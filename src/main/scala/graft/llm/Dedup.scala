package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, BloomFilterMightContain,
  Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, RddBridge}
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType,
  ShortType}
import graft.Tables

/** Deduplication operators for training-data pipelines (builder brief):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here is quadratic. Exact dedup groups on a content
  * hash (shuffles 8-byte keys, not document text). MinHash signatures are
  * computed in one scan with built-in array expressions (codegen'd), LSH
  * candidate generation explodes signatures into (band, bucket) keys and
  * self-joins per bucket — the classic shuffle-bounded near-dup join.
  * SimHash pairs use chunk pigeonholing: hamming distance ≤ chunks-1 over
  * 64 bits guarantees an identical chunk, so candidates come from `chunks`
  * equi-joins, never a cross join.
  */
object Dedup {

  // ---- shingling / signatures --------------------------------------------

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word n-gram shingles (custom one-pass expression; the
    * composable transform/concat_ws form costs ~2 ms/row).
    */
  def shingles(text: Column, n: Int): Column =
    VectorExprs.shingleArray(tokens(text), n)

  /** MinHash signature: H lanes computed in ONE pass over the token array
    * (custom expression; shingling happens inside — the composable
    * 32×array_min(transform(…)) form re-evaluates the shingle array per
    * lane and measured 40× slower, and a transform-built shingle child
    * would be re-interpreted per row under Generate).
    */
  def minhashSignature(tokensCol: Column, shingleN: Int, numHashes: Int): Column =
    VectorExprs.minhashSig(tokensCol, shingleN, numHashes)

  /** Estimated Jaccard from two signatures: fraction of equal components. */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

  /** SimHash over tokens (custom Catalyst expression; tokens are hashed
    * inside the expression to keep the interpreted child subtree trivial).
    */
  def simhash(text: Column): Column =
    Fingerprints.simhash64(tokens(text))

  /** SimHash over SQL-reproducible token hashes: each token hashed with
    * the base-257 mod-2^61-1 polynomial inside the expression's primitive
    * loop (~xxh64-class throughput, unlike a sha-per-token detour). This
    * makes the signature an exact cross-engine function, so the whole
    * pigeonhole pipeline (signature, chunking, bucket cap, pair join) is
    * DuckDB-oracle-checked end to end. Signature bits 61-63 are always 0
    * (every vote is -1), which costs chunk-7 entropy only, not
    * correctness of the ≤chunks-1 pigeonhole.
    */
  def simhashSql(text: Column): Column =
    Fingerprints.simhash64(tokens(text), poly = true)

  // ---- operators ----------------------------------------------------------

  /** Exact dedup: group by content hash, keep the lowest id.
    * Shuffles only (hash, id) — scale-safe for 100 TB of text.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, sig) rows: each doc's MinHash signature. */
  private def minhashSigs(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignature(tokens(col(textCol)), shingleN, numHashes).as("sig"))

  /** (id, band, bucket) rows from an (id, sig) frame: one row per band of
    * each signature (MinHashBands).
    */
  private def bandsOf(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("id"), posexplode(VectorExprs.minhashBands(col("sig"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** (id, band, bucket) rows of the banded MinHash-LSH index — the frame
    * both the pair join and [[minhashCandidateStats]] run over.
    */
  private[graft] def minhashBanded(df: DataFrame, textCol: String, idCol: String,
                                   shingleN: Int, numHashes: Int, bands: Int): DataFrame =
    bandsOf(minhashSigs(df, textCol, idCol, shingleN, numHashes), bands)

  /** (id_a < id_b) pairs sharing a kept (band, bucket) of `banded`, one
    * row per shared band. Degenerate-bucket cap: corpora with
    * globally-common min-shingles put thousands of docs into one (band,
    * bucket), making the self-join quadratic in that bucket for pure
    * false-positive mass. Oversized buckets carry no near-dup signal (a
    * true pair still collides in its other bands), so they are dropped;
    * singleton buckets produce no pairs.
    *
    * The size gate is a groupBy count + a shuffle_hash left-semi join:
    * the count partial-aggregates map-side, so a hot bucket crosses its
    * exchange as one row per task. A window count measured one job
    * cheaper, but it sorts and buffers a whole hot bucket in one task
    * before the cap drops it. The semi join's output stays hash-
    * partitioned by (band, bucket), so the self-join over it adds no
    * exchange: in the executed AQE plan its right side is the same two
    * query stages as its left (`ReusedExchange`), while the static plan
    * plans them twice.
    */
  private def inBucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val usefulBuckets = banded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1 && col("sz") <= maxBucket)
      .select(col("band"), col("bucket"))
    // shuffle_hash on the bucket-list semi too (round 19): PlanDiag
    // caught THIS join flipping broadcast → SortMergeJoin at 80× while
    // every hinted join around it held — the flip sorts the full banded
    // postings on (band, bucket) for a scalar bucket-list probe side
    val gated = banded.join(usefulBuckets.hint("shuffle_hash"),
      Seq("band", "bucket"), "left_semi")
    // self-join form deliberately kept: the join + distinct stay in
    // whole-stage codegen — measured at parity with the collect_set +
    // in-list expansion, which runs interpreted higher-order functions
    // (see the containment note). shuffle_hash on every bounded build
    // side (same discipline as containmentPairs, round 18): static
    // estimates flip these joins wholesale between broadcast and
    // SortMergeJoin across corpus sizes (PlanDiag measured the flip on
    // the incremental twin at 80×) — the hint pins the sort-free shape
    gated.as("a").join(gated.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Candidate-volume accounting for a banded LSH index, computed from
    * bucket SIZES alone. `rawPairs` = Σ sz·(sz−1)/2 over every bucket: the
    * volume the self-join WOULD produce with no cap — computable without
    * materializing it, which on a hot-bucket corpus is exactly the
    * quadratic blow-up the cap exists to prevent. `cappedPairs` is the
    * same sum over kept (1 < sz ≤ maxBucket) buckets. [[LshCandidateStats
    * .pairBound]] is the cap's guarantee made checkable per corpus:
    * every kept bucket contributes at most sz·(maxBucket−1)/2 pairs, so
    * Σ_kept ≤ (Σ sz)·(maxBucket−1)/2 — LINEAR in corpus rows no matter
    * how skewed the bucket distribution is. The sizing groupBy itself is
    * skew-immune: COUNT partial-aggregates map-side, so a hot (band,
    * bucket) key crosses the one exchange as one partial row per task
    * (the agg-side analogue of the `skew_spend_salted` mitigation).
    */
  final case class LshCandidateStats(
      maxBucket: Int, bandedRows: Long, buckets: Long, droppedBuckets: Long,
      largestBucket: Long, rawPairs: Long, cappedPairs: Long,
      oversizedRows: Long) {
    /** Linear worst case the cap enforces: (Σ sz)·(maxBucket−1)/2. */
    def pairBound: Long = bandedRows * (maxBucket - 1L) / 2L
    /** Linear worst case of the OVERFLOW path (see `minhashPairs`'s
      * `overflowReps`): every row of an oversized bucket pairs with at
      * most `reps` representatives, so Σ_oversized sz·reps ≤
      * oversizedRows·reps — still linear in corpus rows.
      */
    def overflowBound(reps: Int): Long = oversizedRows * reps
  }

  private[graft] def candidateStatsOf(banded: DataFrame, keyCols: Seq[String],
                                      maxBucket: Int): LshCandidateStats = {
    val half = (col("sz") * (col("sz") - 1) / 2).cast("long")
    val r = banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(
        coalesce(sum(col("sz")), lit(0L)).as("bandedRows"),
        count(lit(1)).as("buckets"),
        coalesce(sum(when(col("sz") > maxBucket, 1L).otherwise(0L)), lit(0L)).as("dropped"),
        coalesce(max(col("sz")), lit(0L)).as("largest"),
        coalesce(sum(half), lit(0L)).as("raw"),
        coalesce(sum(when(col("sz") > 1 && col("sz") <= maxBucket, half)
          .otherwise(0L)), lit(0L)).as("capped"),
        coalesce(sum(when(col("sz") > maxBucket, col("sz")).otherwise(0L)), lit(0L))
          .as("oversizedRows"))
      .head()
    LshCandidateStats(maxBucket, r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
  }

  /** [[LshCandidateStats]] for the exact banding [[minhashPairs]] uses. */
  def minhashCandidateStats(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
      maxBucket: Int = 64): LshCandidateStats =
    candidateStatsOf(minhashBanded(df, textCol, idCol, shingleN, numHashes, bands),
      Seq("band", "bucket"), maxBucket)

  /** [[LshCandidateStats]] for the exact chunk index [[simhashPairs]]
    * uses (the hot-bucket accounting on the simhash path).
    */
  def simhashCandidateStats(df: DataFrame, textCol: String, idCol: String,
                            maxBucket: Int = 256, chunks: Int = 8): LshCandidateStats = {
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    val chunked = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .select(col("id"),
        explode(array((0 until chunks).map { c =>
          struct(lit(c).as("chunk"),
            (shiftright(col("sh"), c * bitsPer).bitwiseAND(lit(mask))).as("piece"))
        }: _*)).as("cp"))
      .select(col("id"), col("cp.chunk"), col("cp.piece"))
    candidateStatsOf(chunked, Seq("chunk", "piece"), maxBucket)
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard ≥ `minJaccard`.
    * bands × rowsPerBand must equal the signature length.
    *
    * `overflowReps` (default 0 = off, preserving every registered
    * oracle's result bit-for-bit) is the hot-family overflow strategy:
    * with the plain cap an OVERSIZED bucket is dropped whole, so a
    * near-identical family large enough to overflow every one of its
    * buckets escapes dedup entirely (round 17 measured family recall
    * 0.0 at 10× hotness). With reps > 0, each oversized bucket first
    * collapses to exact-signature classes (identical sig ⇒ est-jaccard
    * 1 — byte-dup mass that exact dedup owns), then keeps the `reps`
    * lowest-id class representatives, and pairs EVERY member with those
    * representatives (star topology). Volume is sz·reps per bucket —
    * Σ ≤ oversizedRows·reps, linear ([[LshCandidateStats.overflowBound]])
    * — and a hot family's members all reach its min-id representatives,
    * so pairs→clusters downstream recovers the family as one cluster
    * (member recall 1) instead of losing it, at a bounded verify cost.
    */
  def minhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
      minJaccard: Double = 0.5, maxBucket: Int = 64,
      overflowReps: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // candidate generation shuffles only (id, band, bucket) — signatures are
    // re-attached per unique pair afterwards, so the self-join never moves
    // the 32-long signature arrays and est-jaccard runs once per pair, not
    // once per shared band
    val sigs = minhashSigs(df, textCol, idCol, shingleN, numHashes)
    val bandedAll = bandsOf(sigs, bands)
    val inBucket = inBucketPairs(bandedAll, maxBucket)
    // hot-family overflow (see the Scaladoc): members of OVERSIZED
    // buckets pair with ≤ overflowReps exact-class representatives —
    // sz·reps per bucket, shuffling only (id, band, bucket, ck) rows
    val overflow = if (overflowReps <= 0) None else Some {
      val oversized = bandedAll.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("sz"))
        .filter(col("sz") > maxBucket)
        .select(col("band"), col("bucket"))
      // class key = xxhash64(sig), not the raw signature array (keeps
      // the window key a fixed-width long) — a 64-bit collision between
      // DISTINCT signatures in one oversized bucket would merge two
      // classes and shift rep selection vs a raw-value oracle grouping;
      // accepted at ~2^-64 per in-bucket pair (r18 advice, same
      // asymmetry as embeddingNearDupsLsh's ck).
      val ob = bandedAll.join(oversized.hint("shuffle_hash"),
          Seq("band", "bucket"), "left_semi")
        .join(sigs.select(col("id"), xxhash64(col("sig")).as("ck")), Seq("id"))
      val wClass = Window.partitionBy(col("band"), col("bucket"), col("ck"))
        .orderBy(col("id"))
      val wBucket = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
      val reps = ob.withColumn("rn", row_number().over(wClass)).filter(col("rn") === 1)
        .withColumn("rk", row_number().over(wBucket)).filter(col("rk") <= overflowReps)
        .select(col("band"), col("bucket"), col("id").as("rep_id"))
      ob.join(reps, Seq("band", "bucket"))
        .filter(col("id") =!= col("rep_id"))
        .select(least(col("id"), col("rep_id")).as("id_a"),
          greatest(col("id"), col("rep_id")).as("id_b"))
    }
    val pairs = overflow.fold(inBucket)(inBucket.unionByName(_)).distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** Verified near-dup pairs `(id_a < id_b, jaccard)`: MinHash-LSH
    * candidates at est-Jaccard ≥ 0.5, kept where the exact word 3-gram
    * Jaccard is ≥ `minJaccard`. The LSH parameters are [[minhashPairs]]'
    * defaults (3-gram shingles, 32 lanes in 16 bands, buckets capped at
    * 64 docs), so the rows are `jaccardVerify(minhashPairs(…), …)`'s
    * filtered at `minJaccard` (DedupSpec checks the equality), built with
    * one exchange per key:
    *
    *  - one per-doc frame `(id, sig, toks)`: each doc tokenized once,
    *    its signature computed from that token array, and the band
    *    buckets derived from the signature;
    *  - the capped bucket self-join ([[inBucketPairs]]);
    *  - the pairs deduped on one exchange by `id_a` (hash-partitioning
    *    on `id_a` satisfies the clustering the distinct needs, so the
    *    first attach join reads it in place);
    *  - signature AND tokens attached in one shuffle_hash join per pair
    *    side, both reading the per-doc frame, whose exchange AQE reuses
    *    for the second side;
    *  - the est-Jaccard filter ahead of the exact verify, so shingles
    *    are built only for est-passing pairs.
    *
    * The frame carries tokens, not shingles: a token array is about half
    * the bytes of its shingle strings, and both the per-doc exchange and
    * the `id_b` exchange (side a's payload, for every candidate pair)
    * move it. Carrying shingles measured 4.66 MB of shuffle writes per
    * curation pass, tokens 3.88 MB (the two-operator form: 4.60 MB).
    * The exact Jaccard is one [[VectorExprs.shingleJaccard]] call per
    * pair, which builds each side's shingle set once. The optimizer
    * pushes the Jaccard predicate into the attach join's condition, so a
    * pair that passes the est filter evaluates it there and a verified
    * pair once more in the output projection.
    */
  def verifiedNearDups(docs: DataFrame, textCol: String, idCol: String,
                       minJaccard: Double = 0.8): DataFrame = {
    val (shingleN, numHashes, bands, minEst, maxBucket) = (3, 32, 16, 0.5, 64)
    val perDoc = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), minhashSignature(col("toks"), shingleN, numHashes).as("sig"), col("toks"))
    val pairs = inBucketPairs(bandsOf(perDoc, bands), maxBucket)
      .repartition(col("id_a")).distinct()
    val (a, b) = (perDoc.as("a"), perDoc.as("b"))
    pairs
      .join(a.hint("shuffle_hash"), col("id_a") === col("a.id"))
      .join(b.hint("shuffle_hash"), col("id_b") === col("b.id"))
      .filter(estJaccard(col("a.sig"), col("b.sig"), numHashes) >= minEst)
      .select(col("id_a"), col("id_b"),
        VectorExprs.shingleJaccard(col("a.toks"), col("b.toks"), shingleN).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming. Pigeonhole:
    * with `chunks` equal slices of the 64-bit hash, any pair at hamming
    * ≤ chunks-1 shares at least one identical chunk, so candidate
    * generation is `chunks` equi-joins and exhaustive up to that distance.
    * Default 8×8-bit chunks → exhaustive for maxHamming ≤ 7.
    */
  /** `overflowReps` (default 0 = off) is [[minhashPairs]]'s hot-family
    * overflow on the chunk index: members of an OVERSIZED (chunk, piece)
    * bucket pair with ≤ reps lowest-id signature-class representatives
    * (class key = the 64-bit simhash itself — identical sig ⇒ hamming 0)
    * instead of being dropped whole; volume sz·reps per bucket, linear.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, maxHamming: Int = 7,
                   maxBucket: Int = 256, chunks: Int = 8,
                   sig: Column => Column = simhash,
                   overflowReps: Int = 0): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    require(maxHamming <= chunks - 1,
      s"pigeonhole with $chunks chunks is exhaustive only for hamming <= ${chunks - 1}")
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    val hashed = df.select(col(idCol).as("id"), sig(col(textCol)).as("sh"))
    val chunkedAll = hashed.select(
      col("id"), col("sh"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"), (shiftright(col("sh"), c * bitsPer).bitwiseAND(lit(mask))).as("piece"))
      }: _*)).as("cp"))
      .select(col("id"), col("sh"), col("cp.chunk"), col("cp.piece"))
    // same degenerate-bucket cap as minhashPairs (NB: a dropped chunk
    // weakens the ≤3-hamming pigeonhole guarantee for pairs whose only
    // equal chunk was the oversized one — acceptable for near-dup mining,
    // where giant chunks are vocabulary artifacts, not duplicate signal)
    val useful = chunkedAll.groupBy(col("chunk"), col("piece"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1 && col("sz") <= maxBucket)
      .select(col("chunk"), col("piece"))
    // shuffle_hash on the scalar bucket-list semi (round 19): same flip
    // class PlanDiag measured on minhashPairs' useful-bucket semi at 80×
    val chunked = chunkedAll.join(useful.hint("shuffle_hash"),
      Seq("chunk", "piece"), "left_semi")
    val a = chunked.as("a")
    val b = chunked.as("b")
    val inBucket = a.join(b.hint("shuffle_hash"),
        col("a.chunk") === col("b.chunk") && col("a.piece") === col("b.piece") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
    val overflow = if (overflowReps <= 0) None else Some {
      val oversized = chunkedAll.groupBy(col("chunk"), col("piece"))
        .agg(count(lit(1)).as("sz"))
        .filter(col("sz") > maxBucket)
        .select(col("chunk"), col("piece"))
      val ob = chunkedAll.join(oversized.hint("shuffle_hash"),
        Seq("chunk", "piece"), "left_semi")
      val wClass = Window.partitionBy(col("chunk"), col("piece"), col("sh"))
        .orderBy(col("id"))
      val wBucket = Window.partitionBy(col("chunk"), col("piece")).orderBy(col("id"))
      val reps = ob.withColumn("rn", row_number().over(wClass)).filter(col("rn") === 1)
        .withColumn("rk", row_number().over(wBucket)).filter(col("rk") <= overflowReps)
        .select(col("chunk"), col("piece"),
          col("id").as("rep_id"), col("sh").as("rep_sh"))
      ob.join(reps.hint("shuffle_hash"), Seq("chunk", "piece"))
        .filter(col("id") =!= col("rep_id"))
        .select(least(col("id"), col("rep_id")).as("id_a"),
          greatest(col("id"), col("rep_id")).as("id_b"),
          bit_count(col("sh").bitwiseXOR(col("rep_sh"))).as("hamming"))
    }
    overflow.fold(inBucket)(inBucket.unionByName(_))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Whitespace-collapsed lowercase canonical text — THE normalization
    * every fuzzy-exact key in the engine derives from (in-corpus
    * normalized dedup, cross-snapshot incremental dedup, curation's
    * exact-dedup stage). One definition so the keys can never drift
    * apart.
    */
  def normText(textCol: Column): Column =
    regexp_replace(trim(lower(textCol)), "\\s+", " ")

  /** Normalized content hash (the fuzzy-exact key every snapshot keeps). */
  def normHash(textCol: Column): Column =
    sha2(normText(textCol), 256)

  /** Incremental (cross-snapshot) dedup: of the new batch, keep only
    * content absent from the already-ingested corpus, then exact-dedup
    * within the batch (lowest id per hash). The anti-join shuffles
    * 32-byte hashes, never text — the standard "dedup today's crawl
    * against the corpus" operator.
    */
  def incremental(batch: DataFrame, corpus: DataFrame,
                  textCol: String, idCol: String): DataFrame =
    batch.select(col(idCol), normHash(col(textCol)).as("content_hash"))
      .join(corpus.select(normHash(col(textCol)).as("content_hash")),
        Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Build a corpus-hash Bloom filter (one aggregate job; the returned
    * bytes are a driver-held index artifact like an IVF centroid set —
    * at 1e9 corpus docs and 1% fpp it is ~1.2 GB, the broadcast-side
    * budget of a runtime filter, not row data). Returns None for an
    * empty corpus (a 0-item filter carries no information; callers fall
    * back to the plain anti-join bootstrap).
    *
    * Built via `DataFrameStatFunctions.bloomFilter`, which honors the
    * requested size directly — the previous BloomFilterAggregate route
    * clamped to the AQE runtime-filter caps and needed session-global
    * conf toggling around the build (a race for concurrent queries on
    * the same session, and raised caps could leak into unrelated AQE
    * runtime filters mid-build).
    */
  def contentBloom(corpus: DataFrame, textCol: String,
                   expectedItems: Long, numBits: Long): Option[Array[Byte]] = {
    val hashed = corpus.select(xxhash64(normHash(col(textCol))).as("h"))
    if (hashed.isEmpty) None
    else {
      val bf = hashed.stat.bloomFilter(col("h"), expectedItems, numBits)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      Some(out.toByteArray)
    }
  }

  /** Bloom membership probe against `contentBloom` bytes (codegen'd
    * Catalyst predicate — no UDF).
    */
  def mightContain(bloom: Array[Byte], hashCol: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), ColumnBridge.expression(xxhash64(hashCol))))

  /** `incremental`, with a Bloom prefilter: rows whose hash the filter
    * has never seen are DEFINITELY new and skip the anti-join shuffle
    * entirely; only the maybe-duplicate sliver (true dups + fpp of the
    * new mass) is joined. Identical result to `incremental` — Bloom
    * filters have no false negatives (DedupSpec asserts equality).
    */
  def incrementalBloom(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String,
                       expectedItems: Long = 1000000L,
                       numBits: Long = 8000000L): DataFrame =
    contentBloom(corpus, textCol, expectedItems, numBits) match {
      // empty corpus → no bloom exists; everything is new (bootstrap
      // ingest must NOT silently drop the first batch)
      case None => incremental(batch, corpus, textCol, idCol)
      case Some(bloom) =>
        val b = batch.select(col(idCol), normHash(col(textCol)).as("content_hash"))
        val definitelyNew = b.filter(!mightContain(bloom, col("content_hash")))
        val maybeDup = b.filter(mightContain(bloom, col("content_hash")))
          .join(corpus.select(normHash(col(textCol)).as("content_hash")),
            Seq("content_hash"), "left_anti")
        definitelyNew.unionByName(maybeDup)
          .groupBy(col("content_hash"))
          .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
    }

  /** Incremental NEAR-dup dedup: batch docs whose text near-duplicates
    * (3-gram Jaccard ≥ `minJaccard`) anything already in the corpus —
    * "drop today's rewrites of yesterday's pages", the similarity
    * counterpart of `incremental`'s exact-hash anti-join. A CROSS-frame
    * LSH join, not a self-join: both sides are banded, candidates are
    * (batch, corpus) pairs colliding in any band, and only those pairs
    * see an exact shingle verify. Shuffle volume is (id, band, bucket)
    * ints per side; oversized CORPUS buckets are capped like every LSH
    * path here (vocabulary artifacts, not duplicate signal), and the
    * batch side needs no cap — its buckets are bounded by the batch.
    * Returns the batch ids to drop.
    */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
                          textCol: String, idCol: String,
                          shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
                          minJaccard: Double = 0.8,
                          maxBucket: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def banded(df: DataFrame, side: String) =
      minhashBanded(df, textCol, idCol, shingleN, numHashes, bands).withColumnRenamed("id", side)
    val corpusBanded = banded(corpus, "id_c")
    val smallCorpusBuckets = corpusBanded
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucket)
      .select(col("band"), col("bucket"))
    // shuffle_hash discipline (round 18): PlanDiag measured this exact
    // pipeline flipping all-broadcast → all-SortMergeJoin between the
    // 40× and 80× curve points on static estimates; pin the sort-free
    // shape (AQE still broadcasts runtime-small sides). The batch side
    // is the bounded build of the band join; the per-doc shingle frames
    // build per-partition slices in the verify joins.
    val pairs = corpusBanded.join(smallCorpusBuckets.hint("shuffle_hash"),
        Seq("band", "bucket"), "left_semi")
      .join(banded(batch, "id_b").hint("shuffle_hash"), Seq("band", "bucket"))
      .select(col("id_b"), col("id_c"))
      .distinct()
    val shB = batch.select(col(idCol).as("id_b"), shingles(col(textCol), shingleN).as("sh_b"))
    val shC = corpus.select(col(idCol).as("id_c"), shingles(col(textCol), shingleN).as("sh_c"))
    pairs
      .join(shB.hint("shuffle_hash"), "id_b")
      .join(shC.hint("shuffle_hash"), "id_c")
      .filter(
        size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_c"))) >= minJaccard)
      .select(col("id_b").as("drop_id"))
      .distinct()
  }

  /** Connected components over an undirected pair list — the union-find
    * pass that turns verified near-dup PAIRS into CLUSTERS, so canonical
    * selection (keep min id per cluster) is transitive: A~B~C drops B and
    * C even when A~C was never a candidate. Output: `(id, cluster_id)`,
    * one row per pair endpoint, cluster id = min member, both columns of
    * the pair ids' type.
    *
    * Two physical paths, chosen from the pair count observed at run time
    * (the pair frame is materialized and counted first either way):
    *
    *  - SMALL graphs (`strict`, 2·pairs ≤ [[CcEdgeRowsPerPartition]]):
    *    the pairs are collected to the driver, packed per partition into
    *    primitive `Long` arrays, and folded through one exact
    *    [[graft.ops.UnionFind]]; the labels go back as a frame of
    *    primitive-array slices. No edge cache and no rounds: one job
    *    that materializes and counts the pairs, and one collect, where
    *    the loop adds an edge cache and about five jobs per round. The bound is the loop's own per-task
    *    bound: the mirrored rows fit ONE cached edge partition (~32 MB of
    *    payload), so the driver holds what one round task already holds.
    *    Measured at exactly the bound (1 000 000 disjoint pairs, so
    *    2 000 000 ids; local[4], 3 GB heap, 4-vCPU box): the call
    *    allocates ~190 MB on the driver thread, all short-lived (~100 MB
    *    decoding the collected arrays, 56 MB of union-find arrays, 32 MB
    *    of output slices), and retains 32 MB — the output slices — for
    *    the result frame's life. The fold itself takes ~0.2 s and the
    *    call ~0.9 s warm; the loop took ~13 s on the same graph.
    *  - Otherwise, iterative min-label propagation: each round is one
    *    shuffle (edge join + min-agg) and rounds = component diameter —
    *    near-dup clusters are shallow (duplicates of a common source), so
    *    this converges in 2-4 rounds where a Pregel framework would be
    *    overkill. The per-round driver-side convergence check aggregates
    *    only changed-label counts (tiny next to the corpus); `maxIter`
    *    bounds pathological chains. Labels are checkpointed per round to
    *    cut lineage growth: `localCheckpoint` (executor block storage) by
    *    default — pass `checkpointDir` for RELIABLE checkpointing at
    *    cluster scale, where an executor loss mid-iteration would
    *    otherwise kill the job (localCheckpoint truncates lineage, so
    *    lost blocks cannot be recomputed). Identical results either way
    *    (DedupSpec runs both).
    *
    * By default (`strict`), hitting `maxIter` without converging THROWS:
    * truncated labels are silently-wrong clusters (and would diverge from
    * the transitive-closure oracle). Pass strict = false to accept
    * bounded-radius labels deliberately; only the loop gives those, so a
    * non-strict call always runs it.
    *
    * Each call logs one INFO line (logger `graft.llm.Dedup`): the path
    * taken, the pair count and the rounds run.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          strict: Boolean = true,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWith(pairs, maxIter, strict, checkpointDir)

  /** [[connectedComponents]] with the union-find bound as a parameter:
    * `localMaxEdgeRows = 0` forces the round loop (tests keep it covered
    * on graphs the default bound would finish on the driver).
    */
  private[graft] def connectedComponentsWith(pairs: DataFrame, maxIter: Int = 20,
      strict: Boolean = true, checkpointDir: Option[String] = None,
      localMaxEdgeRows: Long = CcEdgeRowsPerPartition): DataFrame = {
    // (eager, lazy) checkpoint pair: rounds use the LAZY form so the
    // convergence count is also the materializing action. Taking the
    // lazy checkpoint runs the round's exchange stages (AQE materializes
    // them to build the checkpoint's RDD); the count then runs ONE job
    // over the plan's RDD, which computes and stores every partition —
    // measured on a 7-pair chain: 4 stage jobs + 1 count job per round
    // (a Dataset count is an aggregate over an exchange under AQE, 2
    // jobs). In RELIABLE mode checkpoint(eager = false) still recomputes
    // the round lineage a second time when ReliableRDDCheckpointData
    // writes its files, since the round RDD is not separately persisted
    // — accepted: reliable mode is the executor-loss story, not the perf
    // path (r20 advice #4)
    // ATTEMPTED AND REVERTED (r21, verdict #3 — measured): a
    // partitioning-preserving label checkpoint (repartition(edgeParts,
    // id) + a LogicalRDD that declares HashPartitioning, so the edge
    // join reads BOTH sides in place and the shortcut's mapping side is
    // a pinned shuffle_hash build) removes one node-sized exchange per
    // round at scale — but benched a corroborated LOCAL regression
    // across the CC family (llm_dedup_clusters 0.67 → 1.04 s at 0 %
    // min-gap, llm_embed_clusters 1.76 → 2.40 s, graph_components
    // 2.94 → 3.15 s; StageProfile: jobs ~flat, 33 → 38 for
    // graph_components): the placement exchange the aligned layout
    // needs costs a per-round AQE stage at every scale, while the
    // exchange it replaces is one AQE broadcast locally — the same
    // unbounded-node-frame economics that killed the r20 CC-recipe
    // pageRank cache. The plain checkpoint pair stays.
    val (ckpt, lckpt): (DataFrame => DataFrame, DataFrame => DataFrame) =
      checkpointDir match {
        case Some(dir) =>
          // context-global setting, like spark.sparkContext.setJobGroup —
          // callers running concurrent checkpointed jobs share the dir
          pairs.sparkSession.sparkContext.setCheckpointDir(dir)
          (df => df.checkpoint(), df => df.checkpoint(eager = false))
        case None =>
          (df => df.localCheckpoint(), df => df.localCheckpoint(false))
      }
    // materialize the caller's pair plan ONCE: the union-find collect
    // and the mirror-union below would each recompute the upstream (an
    // LSH candidate join, a blocked all-pairs scan) from the lazy plan.
    // Local mode takes the LAZY checkpoint and counts its rows through
    // the plan's RDD, so one job both materializes and counts (the eager
    // form ran one job, and a Dataset count two more: under AQE it is an
    // aggregate over an exchange). Reliable mode stays eager, since a
    // lazy reliable checkpoint recomputes the upstream to write its files.
    val p0 = (if (checkpointDir.isEmpty) lckpt else ckpt)(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")))
    val nPairs = p0.queryExecution.toRdd.count()
    if (strict && 2L * nPairs <= localMaxEdgeRows && CcLocalTypes(p0.schema("u").dataType))
      ccLocal(p0, nPairs)
    else ccLoop(p0, nPairs, maxIter, strict, ckpt, lckpt)
  }

  /** The min-label round loop over the materialized pair frame `p0`. */
  private def ccLoop(p0: DataFrame, nPairs: Long, maxIter: Int, strict: Boolean,
                     ckpt: DataFrame => DataFrame, lckpt: DataFrame => DataFrame): DataFrame = {
    val (edges, labels0) = ccBase(p0, nPairs, ckpt)
    var labels = labels0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = lckpt(ccRound(edges, labels))
      // FULL-scan convergence count as the materializing action: every
      // partition of the lazy checkpoint computes under this one job (a
      // limit-probe would truncate lineage with partitions unmaterialized)
      converged = next.filter(col("changed")).queryExecution.toRdd.count() == 0L
      val prev = labels
      labels = next.drop("changed")
      iter += 1
      // the superseded round's blocks are dead once `next` materialized
      // (checkpoint truncated its lineage); capping live label frames at
      // two keeps round storage flat at cluster scale (guide §5). No-op
      // for reliable checkpoints (files, not blocks).
      graft.store.Checkpoints.free(prev)
    }
    CcLog.info(s"connectedComponents path=loop pairs=$nPairs rounds=$iter converged=$converged")
    if (strict && !converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter or pass strict = false")
    // p0 outlives the loop deliberately: edges is CACHED (not
    // checkpointed), so an evicted edge partition recomputes through p0 —
    // freeing p0 mid-loop would strand that lineage (localCheckpoint
    // blocks cannot recompute)
    graft.store.Checkpoints.free(edges, p0)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  private val CcLog = org.slf4j.LoggerFactory.getLogger("graft.llm.Dedup")

  /** Id types the union-find path carries exactly through `Long`. */
  private val CcLocalTypes: Set[DataType] = Set(LongType, IntegerType, ShortType, ByteType)

  /** Ids per slice of the union-find path's output: 16 bytes of
    * (id, cluster_id) per row, so a slice ships as ~512 KiB, under
    * Spark's 1 000 KiB large-task warning.
    */
  private val CcLocalSliceIds = 1 << 15

  /** The small-graph finish: `p0` collected as one (u, v) pair of
    * primitive arrays per partition, one [[graft.ops.UnionFind]] pass,
    * and the labels returned as a frame over primitive-array slices —
    * never a `Row` per pair on the driver. Same schema as the loop's
    * output: both columns take the pair ids' type, nullable when either
    * side is.
    *
    * The union-find's ids come out sorted and the slices are cut in
    * order, so the frame declares what is already true of it: ordered by
    * `id`, range-partitioned over the slices (`SinglePartition` for one
    * slice). A consumer's `orderBy(id)`, through any renaming projection,
    * then plans no exchange and no sort.
    */
  private def ccLocal(p0: DataFrame, nPairs: Long): DataFrame = {
    val spark = p0.sparkSession
    import spark.implicits._
    val chunks = p0.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val u, v = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => u += a; v += b }
        Iterator((u.result(), v.result()))
      }
      .collect()
    val (ids, roots) = graft.ops.UnionFind.components(chunks.toSeq)
    val slices = (0 until ids.length by CcLocalSliceIds).map(i =>
      (ids.slice(i, i + CcLocalSliceIds), roots.slice(i, i + CcLocalSliceIds)))
    val t = p0.schema("u").dataType
    val nullable = p0.schema.exists(_.nullable)
    val narrow: Long => Any = t match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => identity
    }
    val rows = spark.sparkContext.parallelize(slices, math.max(1, slices.length))
      .flatMap { case (is, rs) =>
        is.indices.iterator.map(i => InternalRow(narrow(is(i)), narrow(rs(i))))
      }
    graft.store.Checkpoints.free(p0)
    CcLog.info(s"connectedComponents path=union-find pairs=$nPairs rounds=0")
    val id = AttributeReference("id", t, nullable)()
    val byId = Seq(SortOrder(id, Ascending))
    RddBridge.frame(spark, Seq(id, AttributeReference("cluster_id", t, nullable)()), rows,
      if (slices.length <= 1) SinglePartition else RangePartitioning(byId, slices.length),
      byId, ids.length, 2L * t.defaultSize * ids.length)
  }

  /** The edge/label base frames shared by the CC loop and the round-plan
    * diagnostic, over the materialized pair frame `p0` of `nPairs` rows.
    * The mirror-union is repartitioned by `v` — THE ITERATION
    * JOIN KEY — before the dedup aggregate (HashPartitioning(v) satisfies
    * the (u, v)-clustering the distinct needs, so the dedup rides the
    * same exchange), and the frame is PERSISTED rather than checkpointed:
    * a checkpoint under AQE stores UnknownPartitioning (the round-1 plan
    * dump showed every round re-exchanging the edge frame by v — measured,
    * r20), while a cached plan keeps its compiled HashPartitioning. Every
    * round's edge-side join input is then already distributed: one
    * edge-sized Exchange+Sort per round removed (guide §2.4). Lineage
    * growth is not a concern for the STATIC edge frame — only the labels,
    * which rebuild per round, need the checkpoint's plan cut.
    */
  /** Mirrored edge rows per cached edge partition: ~2M rows ≈ 32 MB of
    * (long, long) payload per round task, and the per-partition label
    * hash build the round join does is bounded by the same row count —
    * far inside the measured per-task envelopes (ContainmentDiag). The
    * count is derived from the materialized pair frame, so the layout is
    * scale-adaptive (1 partition at bench SF, thousands at corpus scale)
    * instead of inheriting a session constant — AQE cannot coalesce a
    * cached frame's partitions, so a session-default 32 here made every
    * round a 32-task stage over kilobytes (measured: ~3 s of executor
    * time per round stage at sf0.1, pure per-task overhead). Also the
    * union-find bound of [[connectedComponents]]: a graph whose mirrored
    * rows fit one such partition finishes on the driver.
    */
  private val CcEdgeRowsPerPartition = 2000000L

  /** Cache partition count for `mirroredRows` edge rows. NO hard ceiling
    * (r20 verdict #6): the old `min(4096, …)` capped the cache at
    * 4096 × 2M ≈ 8·10⁹ mirrored rows — past that, per-partition size grew
    * unboundedly (cache spill, guide §5), reachable at the 100 TB
    * ambition. The count now tracks rows with no cap; Int range allows
    * ~2³¹ partitions ≈ 4·10¹⁵ edge rows at the 2M target, far past the
    * envelope. Floor of 2: see the call site.
    */
  private[graft] def ccEdgeParts(mirroredRows: Long): Int =
    math.max(2L, math.min(Int.MaxValue.toLong,
      mirroredRows / CcEdgeRowsPerPartition + 1)).toInt

  private def ccBase(p0: DataFrame, nPairs: Long, ckpt: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    // sizes the cache from the pair count.
    // Floor of 2: a 1-partition cache reports SinglePartition, whose
    // shuffle spec cannot seed a join's co-partitioning (Spark refuses
    // 1-partition joins), so EnsureRequirements would re-exchange the
    // cache every round — with ≥ 2 the HashPartitioning(v) spec is
    // reusable and the labels side aligns to IT instead (measured: the
    // round-plan dump grew `Exchange` over the InMemoryTableScan at 1)
    val edgeParts = ccEdgeParts(2L * nPairs)
    // SELF-LOOPS ride the edge frame (r20): with (u, u) present for every
    // node, a round's neighbor-min over N(u) ∪ {u} IS the label update —
    // min(nbr) = least(own, neighbor min) and the own-label row arrives
    // through the same join — so the per-round labels-side LeftOuter (and
    // its two node-sized exchanges) is gone outright (guide §2.4). Row
    // cost: + one row per node, ≤ the mirror's size.
    val edges = p0
      .union(p0.select(col("v").as("u"), col("u").as("v")))
      .union(p0.select(col("u"), col("u").as("v")))
      .union(p0.select(col("v").as("u"), col("v")))
      .repartition(edgeParts, col("v"))
      .distinct()
      .persist()
    // the labels0 build is also the edge-cache materializing action
    val labels = ckpt(edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")))
    (edges, labels)
  }

  /** One min-label-propagation round, UN-checkpointed: ONE join + ONE
    * aggregate — the self-loops planted in [[ccBase]] bring each node's
    * own label through the same neighbor join, so min(nbr_label) IS the
    * updated label and the old per-round LeftOuter label-update join (two
    * more node-sized exchanges) is gone. Factored so the loop and the
    * plan diagnostic below cannot drift.
    *
    * Join strategy (guide §3.1): the NODE-sized labels side is the pinned
    * shuffle_hash build — the edge side streams through its stored cache
    * partitioning with no exchange and NO per-round sort (a sort-merge
    * join would re-sort the static edge frame every round). AQE still
    * broadcasts the build side when runtime-small. Partial aggregation
    * makes the min exchange node-sized, so NOTHING edge-sized shuffles
    * per round.
    */
  private def ccRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val stepped = edges
      .join(labels.select(col("id").as("v"), col("label").as("nbr_label"))
        .hint("shuffle_hash"), "v")
      .groupBy(col("u").as("id"))
      .agg(min(col("nbr_label")).as("label"),
        // the self-loop row carries u's OWN current label; never null —
        // every node self-loops, and labels covers every edge endpoint
        min(when(col("v") === col("u"), col("nbr_label"))).as("own"))
    // POINTER SHORTCUT through the previous (already materialized)
    // mapping (r20): label ← prev_label(label). prev_label(x) ≤ x for
    // every node id x and stays inside x's component, so each round now
    // propagates ~two hops — the co-purchase graph converged in 10-11
    // neighbor-min rounds, each paying the edge-sized join; the shortcut
    // halves that for ONE extra node-sized join per round, inside the
    // same single-action round plan (jumping through the CURRENT mapping
    // would read `stepped` twice and double-compute the edge join under
    // the lazy checkpoint). Inner join is total: every label IS a node
    // id of the same frame. Fixpoint unchanged — at convergence
    // prev_label(label) = label, and the fixpoint of neighbor-min is the
    // component minimum either way (oracle-gated).
    // UNHINTED deliberately: both sides are node-sized (unbounded — the
    // bounded-build-side pin rule does not apply), AQE broadcasts the
    // prev mapping at small scale, and an SMJ here sorts node frames,
    // never the edge cache
    stepped
      .join(labels.select(col("id").as("label"), col("label").as("jlabel")),
        Seq("label"))
      .select(col("id"), col("jlabel").as("label"),
        (col("jlabel") < col("own")).as("changed"))
  }

  /** Diagnostic: round-1's frame EXACTLY as [[connectedComponents]]'
    * round loop runs it, whatever the pair count (same base
    * construction, incl. the v-partitioned cached edge
    * frame), returned lazy so the per-round exchange shape is inspectable
    * — the registered cluster queries checkpoint every round, which hides
    * the loop's plan from the query tail (`graft.Profile`'s lazy form
    * for graph_components). Second element = the base frames to release
    * with `Checkpoints.free` after inspection.
    */
  private[graft] def ccRoundPlan(pairs: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val p0 = pairs.select(col("id_a").as("u"), col("id_b").as("v")).localCheckpoint()
    val (edges, labels) = ccBase(p0, p0.count(), df => df.localCheckpoint())
    (ccRound(edges, labels), Seq(edges, labels, p0))
  }

  /** Shingle n and document-frequency cap of [[containmentPairs]]. */
  val ContainmentN = 3
  val ContainmentMaxDf = 64

  /** The corpus statistics [[containmentPairs]]' cost follows at its
    * default n and cap, from one aggregate over its df table (shingle →
    * document frequency): posting rows (Σ df), shingle types, retained
    * types (1 < df ≤ cap) and their Σ df² (the self-join's candidate
    * mass), and the types and posting rows the cap drops (df > cap),
    * keyed by those names. Tells a superlinear wall apart from a
    * superlinear corpus.
    */
  def containmentCorpus(docs: DataFrame, textCol: String): Seq[(String, Long)] = {
    val df = col("df")
    val retained = df > 1 && df <= ContainmentMaxDf
    val capped = df > ContainmentMaxDf
    def total(c: Column, name: String) = coalesce(sum(c), lit(0L)).as(name)
    val r = docs.select(explode(shingles(col(textCol), ContainmentN)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(total(df, "posting_rows"), count(lit(1)).as("shingle_types"),
        total(when(retained, 1L).otherwise(0L), "retained_types"),
        total(when(retained, df * df).otherwise(0L), "sum_df2"),
        total(when(capped, 1L).otherwise(0L), "capped_types"),
        total(when(capped, df).otherwise(0L), "capped_rows"))
      .head()
    r.schema.fieldNames.toSeq.map(f => f -> r.getAs[Long](f))
  }

  /** Asymmetric shingle containment: ordered pairs (a, b) where
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ `minContainment` —
    * quote/subset detection, the near-dup regime Jaccard methods are
    * BLIND to (a 50-shingle doc fully quoted inside a 1000-shingle doc
    * has containment 1.0 but Jaccard ≈ 0.05, below any LSH band's reach;
    * MinHash is similarity-sensitive, not containment-sensitive).
    *
    * Scale shape: an inverted index over shingles, df-capped. Candidates
    * are pairs sharing ≥ 1 shingle whose document frequency is ≤ `maxDf`
    * — the posting-list self-join is Σ df² over retained shingles, never
    * n². A τ-contained doc shares ⌈τ·|A|⌉ of its shingles with its
    * container, so it is missed only if EVERY shared shingle is more
    * common than the cap — corpus-vocabulary mass, not quote signal (the
    * same argument as the LSH degenerate-bucket caps; at the gate's SF
    * no shingle approaches the cap, so the oracle agreement is exact).
    * Exact containment is then verified per unique candidate pair, ids
    * only through the join, shingle arrays attached once per pair.
    */
  /** `overflowReps` (default 0 = off, preserving the registered oracle's
    * result bit-for-bit) closes the VIRAL-PASSAGE blindness (r19 verdict
    * #1): the df cap drops over-cap shingles WHOLE, so a passage quoted
    * in more docs than `maxDf` contributes zero candidates and a doc
    * that consists of that passage escapes containment detection
    * entirely — the same hot-family class the LSH/simhash overflow
    * fixed, on the inverted-index operator. With reps > 0, each hot
    * shingle (df > maxDf) first collapses its posting list to exact
    * shingle-SET classes (identical set ⇒ containment 1 both ways —
    * byte-dup mass exact dedup owns; collapsing spends reps on distinct
    * content), then keeps the `reps` lowest-id class representatives,
    * and pairs EVERY posting member with those representatives (star
    * topology). Volume is df·reps per hot shingle — Σ ≤ hot posting
    * rows · reps, linear — and every doc quoting the viral passage
    * reaches the passage's min-id representatives, so pairs→clusters
    * downstream recovers the quote family (member recall 1) instead of
    * losing it. Candidates only: the exact per-pair verify below is
    * unchanged, so overflow adds no false positives.
    */
  /** Target candidate rows per autoscaled containment exchange
    * partition. Calibrated against ContainmentDiag's measured envelope:
    * at 32 partitions × ~3.2M candidate rows/task the 80× corpus
    * spilled 18.4 GB inside ~0.3 GB/task execution memory — i.e. the
    * join-output + partial-agg footprint of 3.2M rows outruns ~0.9 GB.
    * 500k rows/task (r21 recalibration — see below) keeps that
    * footprint ≈ 0.2 GB, inside even the
    * tightest measured envelope, while the bench-SF estimate (1.27M at
    * sf0.1) stays ≤ the session default so gate plans are unchanged.
    */
  private val CandRowsPerPartition = 500000L

  /** Candidate-estimate memo keyed by (session, canonicalized input plan,
    * shingle n, maxDf): the estimate costs one posting-aggregation job
    * per `containmentPairs` CALL, and steady-state callers (bench
    * passes, repeated pipeline runs) rebuild the same frame every time.
    * Row budget recalibrated r21: the thr column widens each candidate
    * row 16 → 24 bytes (and the aggregate buffer by a double), so the
    * 750k budget measured for the r20 row crossed the same ~0.3 GB/task
    * envelope ContainmentDiag calibrated it against (x80 spilled 17 GB
    * where r20's run was clean); 500k restores the old per-task BYTE
    * footprint. At bench SF the estimate still stays under one
    * partition's budget — gate plans unchanged.
    * Memo staleness after an in-place table rewrite is BENIGN by
    * construction — the value only sizes exchanges; results never
    * depend on it (unlike the result memos, which key on snapshot
    * fingerprints for exactly that reason). Size-capped defensively.
    */
  private[graft] val candEstCache = new graft.store.SessionMemo[String, Long](256)

  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = ContainmentN, minContainment: Double = 0.9,
                       maxDf: Int = ContainmentMaxDf, overflowReps: Int = 0): DataFrame = {
    // the shingle subtree (regex tokenization + n-gram assembly) feeds SIX
    // plan branches (self-join sides, per-doc stats, two verify sides);
    // without a materialization point each branch re-tokenizes the corpus.
    // Lazy localCheckpoint: computed once on first use, blocks GC-freed
    // with the frame (no session-lifetime cache entry)
    val sh = docs.select(col(idCol).as("jid"), shingles(col(textCol), n).as("sh"))
      .localCheckpoint(false)
    val posting = sh.select(col("jid").as("id"), explode(col("sh")).as("g"))
    // the df table feeds THREE consumers (the rare retention filter, the
    // partition-autoscale estimate below, and — with overflow on — the
    // hot-shingle filter); checkpointed once so the posting explode runs
    // a single time for all of them (shingle-type-sized blocks, GC-freed
    // with the frame)
    val dfTab = posting.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .localCheckpoint(false)
    val rare = dfTab
      .filter(col("df") > 1 && col("df") <= maxDf)
      .select(col("g"))
    // Shuffle-partition autoscaling (r19 verdict #2): ContainmentDiag
    // proved the 40→80× wall bend inside a FIXED 16 GB envelope is pure
    // shuffle SPILL — candidate volume grows with Σ df² while the
    // session partition count stays put, so per-task input crosses the
    // ~0.6 GB line and the same sweep at ~0.9 GB/task spills zero. The
    // candidate row count is computable EXACTLY from the df table
    // (Σ df·(df−1)/2 over retained shingles) before any wide stage
    // runs, so the self-join and the pair aggregate below size their
    // exchanges to it (~`CandRowsPerPartition` rows ≈ tens of MB per
    // task) instead of inheriting the session default. One small agg
    // job over the checkpointed postings, only when the estimate says
    // the default is too coarse; at oracle/bench SF the estimate stays
    // under one partition's budget and the plan is byte-identical to
    // the unscaled form.
    val sessionP = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // NB: SQL `/` is floating division — df·(df−1) is even and ≤ maxDf²,
    // so the per-shingle term is exact and the cast back to long is too
    val estKey = docs.queryExecution.analyzed.canonicalized.toString +
      s"|n=$n|maxDf=$maxDf"
    val candRowsEst: Long = candEstCache.get(docs.sparkSession, estKey)(
      dfTab
        .agg(coalesce(sum(when(col("df") > 1 && col("df") <= maxDf,
          (col("df").cast("long") * (col("df") - 1) / 2).cast("long"))), lit(0L)))
        .head().getLong(0))
    // no hard ceiling (the ccEdgeParts rule): a cap lets per-task volume
    // grow with data past it; saturate only at the Int range
    val autoP = math.min(Int.MaxValue.toLong, candRowsEst / CandRowsPerPartition + 1).toInt
    // shuffle_hash on the scalar shingle-list semi (round 19): the
    // checkpoint right below severs this join from final-plan inspection,
    // but PlanDiag measured the IDENTICAL scalar-probe-side semi in
    // minhashPairs flipping broadcast → SortMergeJoin at 80× — sorting
    // the full posting frame inside the index build. Same class, same pin
    val indexed = posting.join(rare.hint("shuffle_hash"), Seq("g"), "left_semi")
      .localCheckpoint(false)
    // Join-strategy note (the 40→80× curve bend, round 18): every join
    // below carries a shuffle_hash hint on its bounded side. Catalyst's
    // static estimates for these checkpointed/aggregated frames cross
    // the broadcast threshold between curve points, flipping the WHOLE
    // plan from all-broadcast to six SortMergeJoins — ~10 sorts of the
    // 20-90M-row candidate frames, a measured 3.5× wall step for 2×
    // rows (work metrics stayed exactly linear). The hint pins the
    // sort-free shape at ANY size: AQE still converts to broadcast at
    // runtime when the build side is actually small, and when it isn't
    // (10⁹-doc corpora — per-doc frames can't broadcast) the shuffled
    // hash join builds a per-partition slice, never sorting the big
    // side. It also removes the misestimation-driven full broadcast of
    // the 10M-row inverted index the 40× plan was silently doing.
    //
    // Count-bound threshold RIDES THE POSTING ROWS (r21, guide §2.3/§2.4):
    // the bound below needs only ONE scalar per doc — thr(d) = rare(d) −
    // (1−τ)·|d| − slack; a pair survives iff shared_rare ≥ thr(a) OR ≥
    // thr(b), i.e. iff shared_rare ≥ least(thr_a, thr_b). r20 attached
    // (rare_n, sz) to the PAIR-AGGREGATE OUTPUT via two per-doc stats
    // joins — but that frame is partitioned by (id_a, id_b), which
    // satisfies neither join's id_a / id_b clustering, so at scale each
    // stats join RE-EXCHANGED the full candidate-pair frame (measured
    // x40: 45.2M pair groups through two more full exchanges ≈ 2.3 GB,
    // vs 20.2k bound survivors). Attaching thr to the indexed postings
    // costs one posting-sized id-exchange (~10.4M rows at x40, reused by
    // the rare_n aggregate) plus 8 bytes per candidate-join row, and the
    // filter runs INSIDE the pair aggregate — both post-agg joins and
    // their candidate-frame exchanges are gone at any scale. Same float
    // arithmetic, same slack: the candidate set is bit-identical.
    val slack = 1.0
    val indexedById = indexed.repartition(col("id"))
    val thr = indexedById.groupBy(col("id")).agg(count(lit(1)).as("rare_n"))
      .join(sh.select(col("jid").as("id"), size(col("sh")).as("sz"))
        .hint("shuffle_hash"), Seq("id"))
      .select(col("id"),
        (col("rare_n") - lit(1.0 - minContainment) * col("sz") - lit(slack))
          .as("thr"))
    val indexedT = indexedById.join(thr.hint("shuffle_hash"), Seq("id"))
    // candidate pruning by COUNTING, before any array is touched: if
    // containment(a→b) ≥ τ then |A\B| ≤ (1-τ)|A|, so the SHARED rare
    // shingles number ≥ rare(A) - (1-τ)|A|. The shared-rare count per
    // pair falls out of the same self-join that generates candidates —
    // group instead of distinct — so random pairs (share 1-2 rare
    // shingles, need ~0.9·|A|) die here without ever shuffling shingle
    // arrays. One shingle of slack absorbs fp boundary effects; the
    // bound is otherwise exact-safe (no true pair pruned).
    // NOTE: the one-shuffle collect_list + in-list combination expansion
    // (used by the winnow overlap report) was measured HERE and reverted:
    // this index is shingle-per-row dense enough that the interpreted
    // higher-order-function expansion costs more than the second shuffle
    // the codegen'd self-join pays (2.3 s → 3.1 s at sf0.1). Pair-path
    // choice is workload-dependent; both shapes are linear in Σ df².
    // the autoscaled exchanges: an explicit repartition on the join key
    // (reused by both self-join sides — one exchange, planned once) and
    // one on the pair key before the aggregate. Partial aggregation
    // loses nothing to the explicit pair-key exchange: a pair's rows are
    // spread across the g-partitions of its shared shingles (one row per
    // shingle, different g each), so map-side combine finds ~no
    // duplicates either way, and with the distribution already satisfied
    // the partial and final HashAggregates run back-to-back in one stage.
    val indexedJ =
      if (autoP > sessionP) indexedT.repartition(autoP, col("g")) else indexedT
    // each candidate-join row carries ONE extra double: the weaker of the
    // two docs' thresholds (shared ≥ thr_a OR shared ≥ thr_b ⟺ shared ≥
    // least of them). Every row of a pair carries the identical value, so
    // min() in the aggregate is just "keep it"
    val sharedRows = indexedJ.as("a").join(indexedJ.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        least(col("a.thr"), col("b.thr")).as("thr"))
    val sharedPre =
      if (autoP > sessionP) sharedRows.repartition(autoP, col("id_a"), col("id_b"))
      else sharedRows
    val candidates = sharedPre
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_rare"), min(col("thr")).as("thr"))
      .filter(col("shared_rare").cast("double") >= col("thr"))
      .select(col("id_a"), col("id_b"))
    // hot-shingle overflow (see the Scaladoc): members of OVER-CAP
    // posting lists pair with ≤ overflowReps shingle-set-class
    // representatives — df·reps rows per hot shingle, ids only through
    // the joins. The per-hot-shingle windows sort that shingle's
    // postings in one task — bounded by the largest posting list, the
    // same accepted skew class as the LSH overflow's in-bucket window
    // (a two-phase salted top-k is the escape hatch if a single
    // posting list ever outgrows a task).
    val overflow = if (overflowReps <= 0) None else Some {
      val hot = dfTab
        .filter(col("df") > maxDf)
        .select(col("g"))
      // class key = xxhash64(shingle set), not the raw array (fixed-width
      // window key; a 64-bit collision between DISTINCT sets would merge
      // two classes and shift rep selection vs the oracle's raw-set
      // grouping — accepted at ~2^-64 per in-shingle pair, the same
      // asymmetry as the simhash/LSH overflow class keys)
      val hotPost = posting.join(hot.hint("shuffle_hash"), Seq("g"), "left_semi")
        .join(sh.select(col("jid").as("id"), xxhash64(col("sh")).as("ck"))
          .hint("shuffle_hash"), Seq("id"))
      val wClass = Window.partitionBy(col("g"), col("ck")).orderBy(col("id"))
      val wG = Window.partitionBy(col("g")).orderBy(col("id"))
      val reps = hotPost.withColumn("rn", row_number().over(wClass)).filter(col("rn") === 1)
        .withColumn("rk", row_number().over(wG)).filter(col("rk") <= overflowReps)
        .select(col("g"), col("id").as("rep_id"))
      // shuffle_hash on the reps side (round 20, caught by the 160×
      // PlanDiag sweep on this query's own first outing): the star join
      // flipped broadcast → SortMergeJoin, sorting the full hot-posting
      // frame against a ≤reps-per-shingle build side
      hotPost.join(reps.hint("shuffle_hash"), Seq("g"))
        .filter(col("id") =!= col("rep_id"))
        .select(least(col("id"), col("rep_id")).as("id_a"),
          greatest(col("id"), col("rep_id")).as("id_b"))
    }
    // reps = 0 keeps the exact pre-overflow plan (candidates are already
    // unique out of the aggregate — no distinct needed)
    val candAll = overflow.fold(candidates)(o => candidates.unionByName(o).distinct())
    // exact verify: ONE intersect per unordered pair (|A∩B| is symmetric),
    // then both directions emitted from the scalar sizes
    candAll
      .join(sh.select(col("jid").as("id_a"), col("sh").as("sh_a")).hint("shuffle_hash"), "id_a")
      .join(sh.select(col("jid").as("id_b"), col("sh").as("sh_b")).hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double").as("inter"),
        size(col("sh_a")).cast("double").as("sz_a"),
        size(col("sh_b")).cast("double").as("sz_b"))
      .select(col("id_a"), col("id_b"),
        explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst"), (col("inter") / col("sz_a")).as("containment")),
          struct(col("id_b").as("src"), col("id_a").as("dst"), (col("inter") / col("sz_b")).as("containment")))).as("dir"))
      .select(col("dir.src").as("id_a"), col("dir.dst").as("id_b"), col("dir.containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Exact n-gram Jaccard over candidate pairs: the reference form of
    * [[verifiedNearDups]]' verify stage (DedupSpec compares the two row
    * for row over [[minhashPairs]]); also usable brute-force on a bounded
    * subset as an oracle baseline.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("jid"), shingles(col(textCol), n).as("sh"))
    pairs
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a")
        .hint("shuffle_hash"), "id_a")
      .join(sh.select(col("jid").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .drop("sh_a", "sh_b")
  }

  /** Per-document duplicated-span statistics: the distributed re-expression
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") — a k-token window whose
    * text occurs ≥ 2 times anywhere in the corpus is a duplicated span;
    * report how many of each doc's windows sit under one.
    *
    * Scale shape: one scan explodes each doc into (n − k + 1) windows, a
    * groupBy over the span text counts global occurrences (this sort/group
    * is exactly what a distributed suffix-array build degenerates to at
    * fixed k), and a semi-join marks each doc's duplicated positions.
    * Everything is linear in corpus size; spans are ~k words, and the
    * frequency table carries one row per distinct span, so no stage ever
    * holds documents — let alone pairs — in memory.
    */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("t"))
      .withColumn("n_windows", greatest(size(col("t")) - lit(k - 1), lit(0)))
    val wins = base.filter(col("n_windows") > 0)
      .select(col(idCol), explode(transform(
        sequence(lit(1), col("n_windows")),
        i => concat_ws(" ", slice(col("t"), i, lit(k))))).as("span"))
    val dupSpans = wins.groupBy(col("span")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("span"))
    // shuffle_hash discipline (round 19): PlanDiag measured both joins
    // here flipping broadcast → SortMergeJoin at 80× — the flip sorts
    // the token-count-scaled window frame on ~k-token span STRINGS. The
    // duplicated-span list is the boilerplate tail (cnt ≥ 2), far
    // smaller than the window frame; the per-doc count frame is one
    // skinny row per doc. Hash-build those; never sort wins
    val perDoc = wins.join(dupSpans.hint("shuffle_hash"), Seq("span"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_windows"))
    base.join(perDoc.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("dup_windows"), lit(0L)).cast("double") / col("n_windows"), 6))
          .as("dup_frac"))
  }

  /** The transform half of substring dedup: REMOVE every token covered by
    * a globally-duplicated k-token window (C4-style boilerplate policy —
    * a repeated passage is dropped from every document, not kept once;
    * order-free, so the result is deterministic under any execution
    * order). Pairs with [[duplicatedSpans]] the way pii_redact pairs with
    * pii_report: one query measures, this one cleans.
    *
    * Scale shape: same linear span groupBy as [[duplicatedSpans]], plus a
    * per-doc `collect_set` of duplicated window starts — bounded by the
    * doc's own window count, never corpus-sized — and a codegen'd
    * array-lambda rebuild of the token list. No stage widens beyond
    * (id, position) pairs.
    */
  def stripDuplicatedSpans(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("t"))
      .withColumn("nw", greatest(size(col("t")) - lit(k - 1), lit(0)))
    val wins = base.filter(col("nw") > 0)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), col("nw")),
        i => concat_ws(" ", slice(col("t"), i, lit(k))))))
      .select(col(idCol), (col("pos") + 1).as("s"), col("col").as("span"))
    val dupSpans = wins.groupBy(col("span")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("span"))
    // same shuffle_hash discipline as duplicatedSpans (the measured 80×
    // flip applies verbatim — identical join shapes)
    val dupStarts = wins.join(dupSpans.hint("shuffle_hash"), Seq("span"), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("s")).as("starts"))
    base.join(dupStarts.hint("shuffle_hash"), Seq(idCol), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("clean", filter(col("t"), (tok, i) =>
        !exists(col("starts"), s => s <= i + 1 && i + 1 <= s + lit(k - 1))))
      .select(col(idCol), size(col("t")).as("n_tokens"),
        (size(col("t")) - size(col("clean"))).as("n_removed"),
        concat_ws(" ", col("clean")).as("clean_text"))
  }

  // ---- registered queries -------------------------------------------------

  /** Exact dedup over documents (hash-groupBy). */
  def exactQuery(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir), "text", "doc_id")
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** The VERIFIED near-dup pair graph — MinHash-LSH candidates at
    * est ≥ 0.5, exact 3-gram Jaccard verify at ≥ `NearDupJaccard` — is
    * the expensive shared half of FOUR registered queries (drop
    * decisions, the pair list, ranked retrieval, clusters). Verify/bench
    * run them all in one session, so the graph is memoized: one entry
    * per session, keyed on a filesystem fingerprint of the documents
    * table (a rewrite rebuilds; a new dir evicts and unpersists the old
    * checkpoint). The pair graph is near-dup-pair sized — ids and a
    * double, not text — so the checkpoint is tiny next to the corpus.
    */
  private val verifiedCache = new graft.store.SessionMemo[(String, Long), DataFrame](
    1, (_, df) => graft.store.Checkpoints.free(df))

  private def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    verifiedCache.get(spark, (dir, graft.store.Snapshot.fingerprint(dir, "documents.parquet"))) {
      verifiedPairsPlan(spark, dir).localCheckpoint()
    }

  /** The verified near-dup pipeline LAZILY (no cache, no checkpoint) —
    * the `winnowOverlapPlan` split, for plan inspection: the registered
    * queries serve from the localCheckpointed [[verifiedPairs]] memo, so
    * their executed plans are severed at the RDD scan and the flip-prone
    * joins (the banding self-join plus the signature/token re-attach
    * joins, all shuffle_hash-pinned) would be invisible to
    * `graft.Profile`'s scale points without this form. Semantically
    * identical to the cached frame; do not execute it twice where the
    * memo would do.
    */
  private[graft] def verifiedPairsPlan(spark: SparkSession, dir: String): DataFrame =
    verifiedNearDups(Tables.documents(spark, dir), "text", "doc_id", NearDupJaccard)

  /** MinHash-LSH dedup decisions: the docs a near-dup pass drops (greedy,
    * deterministic: the higher id of each verified pair). LSH candidates at
    * est ≥ 0.5, exact 3-gram Jaccard verify at ≥ 0.8 — the same bounds that
    * make the all-pairs DuckDB oracle agree deterministically (miss
    * probability ≤ 1.3e-7 per pair; argument at ngramJaccardQuery).
    * The est-ranked candidate view itself stays available via minhashPairs.
    */
  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    verifiedPairs(spark, dir)
      .select(col("id_b").as("drop_id")).distinct()
      .orderBy(col("drop_id"))

  /** SimHash near-dup candidates over documents (8×8-bit pigeonhole →
    * exhaustive at hamming ≤ 7 up to the degenerate-bucket cap, so the
    * result is the exact ≤-7 pair set wherever no bucket overflows).
    * Uses the SQL-reproducible signature: the DuckDB oracle replays the
    * FULL pipeline — signature bit votes, chunk bucketing, the 256 cap,
    * in-bucket pairing — so the agreement is by construction at any SF,
    * not a property of the test corpus.
    */
  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir), "text", "doc_id", maxHamming = 7,
      sig = simhashSql)
      .orderBy(col("id_a"), col("id_b"))

  /** Hot-family rig for the TEXT-side overflow oracle (r18 verdict #6:
    * the embedding overflow has `llm_embed_neardup_lsh_ovf`; the text
    * overflows were spec-only): the first `SimOvfFam` doc_ids are
    * rewritten to a shared 240-token template plus a per-doc tail token
    * — true near-dups whose simhashes differ in the few bits where the
    * template's per-bit vote sum is 0 (the tail's ±1 decides the sign),
    * never byte-identical. With the pinned `SimOvfMaxBucket`, every one
    * of the family's (chunk, piece) buckets oversizes, so the plain cap
    * drops the family whole and ONLY the overflow star produces its
    * pairs — the registered row gates exactly the rescue semantics.
    */
  private[llm] val SimOvfTemplate: String =
    Seq.tabulate(120)(i => s"ovfspan$i tok$i").mkString(" ")
  private val SimOvfFam = 100L
  private val SimOvfReps = 8
  private val SimOvfMaxBucket = 64

  def plantHotDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") < SimOvfFam,
        concat(lit(SimOvfTemplate + " tail"), col("doc_id").cast("string")))
        .otherwise(col("text")))

  /** The simhash overflow path, oracle-gated: planted >maxBucket family
    * + `overflowReps = 8` — the text-side twin of
    * `llm_embed_neardup_lsh_ovf`, pinning signature-class collapse,
    * lowest-id rep selection, and the member×rep hamming verify against
    * an independent replica.
    */
  def simhashOverflowQuery(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(plantHotDocs(Tables.documents(spark, dir)), "text", "doc_id",
      maxHamming = 7, maxBucket = SimOvfMaxBucket, sig = simhashSql,
      overflowReps = SimOvfReps)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact 3-gram Jaccard near-dups ≥ 0.8, found the scale-correct way:
    * MinHash-LSH candidates first, exact Jaccard verify second. The DuckDB
    * oracle computes the all-pairs answer — at J ≥ 0.8 with 16 bands × 2
    * rows, LSH miss probability is (1-J²)^16 ≤ 1.3e-7, so the two agree.
    */
  private val NearDupJaccard = 0.8

  def ngramJaccardQuery(spark: SparkSession, dir: String): DataFrame =
    // est-jaccard ≥ 0.5 prefilter inside verifiedPairs: for a true J ≥ 0.8
    // pair the estimate is Binom(32, J)/32, so P(est < 0.5) ≤ 1e-5 — the
    // exact-verify stage sees hundreds of pairs, not the full candidate set
    verifiedPairs(spark, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** Near-dup clusters: connected components over the verified near-dup
    * pair graph (LSH candidates → exact 3-gram J ≥ 0.8 verify), cluster
    * id = min member id. The same LSH-completeness argument as
    * ngramJaccardQuery applies edge-wise, so the Spark graph equals the
    * oracle's all-pairs graph and the components match deterministically.
    */
  def clustersQuery(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(verifiedPairs(spark, dir).select(col("id_a"), col("id_b")))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Per-document RANKED near-duplicate retrieval: each doc's top-3
    * most similar counterparts (3-gram Jaccard, ties by id) over the
    * verified pair graph — the "show me this page's duplicates" view a
    * curation UI or dedup audit needs, where the pair list answers a
    * different question ("which pairs exist"). Same LSH-completeness
    * regime as ngramJaccardQuery (pairs at J ≥ 0.8, est-prefilter at
    * 0.5), so the Spark pair set equals the oracle's all-pairs set;
    * the window runs per doc over ≤ degree rows.
    */
  def similarDocsQuery(spark: SparkSession, dir: String): DataFrame = {
    val verified = verifiedPairs(spark, dir)
    val sym = verified
      .select(col("id_a").as("doc_id"), col("id_b").as("similar_id"), col("jaccard"))
      .union(verified
        .select(col("id_b").as("doc_id"), col("id_a").as("similar_id"), col("jaccard")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("jaccard").desc, col("similar_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("similar_id"), col("rank"),
        round(col("jaccard"), 4).as("jaccard_r"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Batch docs (odd ids) near-duplicating the corpus (even ids) at
    * 3-gram J ≥ 0.8 — the same scale-invariant split as
    * `llm_dedup_incremental`, so the two queries together cover exact
    * AND fuzzy cross-snapshot dedup. Oracle: all batch×corpus pairs in
    * DuckDB (the ngramJaccardQuery LSH-completeness bound applies
    * pair-wise: miss ≤ 1.3e-7 at J ≥ 0.8 with 16×2 banding).
    */
  def incrementalNearDupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalNearDups(
        docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id")
      .orderBy(col("drop_id"))
  }

  /** Containment threshold for the registered query (quote detection). */
  private val MinContainment = 0.9

  /** Ordered quote/subset pairs at containment ≥ 0.9 (oracle: all ordered
    * pairs in DuckDB — exhaustiveness argument at `containmentPairs`).
    */
  def containmentQuery(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), "text", "doc_id",
        n = 3, minContainment = MinContainment)
      .orderBy(col("id_a"), col("id_b"))

  /** Viral-passage rig for the containment OVERFLOW oracle (r19 verdict
    * #1): the first `ContOvfFam` doc_ids are rewritten to a shared
    * 120-token passage plus a per-doc tail token — every passage shingle
    * lands df = `ContOvfFam` > `maxDf`, so the capped inverted index
    * drops them whole, the docs' only other shingles are df-1 tails
    * (excluded by df > 1), and the family produces ZERO capped
    * candidates: the registered row gates exactly the rescue semantics
    * (only the overflow star finds the family's pairs, at containment
    * ≈ 117/119, above the 0.9 gate both ways).
    */
  private[llm] val ContOvfTemplate: String =
    Seq.tabulate(60)(i => s"viralspan$i vtok$i").mkString(" ")
  private val ContOvfFam = 100L
  private val ContOvfReps = 8

  def plantViralDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") < ContOvfFam,
        concat(lit(ContOvfTemplate + " vtail"), col("doc_id").cast("string")))
        .otherwise(col("text")))

  /** The containment overflow path, oracle-gated: planted >maxDf viral
    * passage + `overflowReps = 8` — the inverted-index twin of
    * `llm_dedup_simhash_ovf`/`llm_embed_neardup_lsh_ovf`, pinning
    * shingle-set-class collapse, lowest-id rep selection, and the
    * member×rep exact containment verify against an independent replica.
    */
  def containmentOverflowQuery(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(plantViralDocs(Tables.documents(spark, dir)), "text", "doc_id",
        n = 3, minContainment = MinContainment, overflowReps = ContOvfReps)
      .orderBy(col("id_a"), col("id_b"))

  /** Span length for the registered substring-dedup query: 8 tokens —
    * long enough that chance collisions are impossible on the synthetic
    * vocabulary's entropy, short enough that real duplicated passages
    * (the generator plants shared prefixes) are caught.
    */
  private val SpanK = 8

  /** Duplicated 8-token spans per document (exact substring dedup). */
  def substringDupQuery(spark: SparkSession, dir: String): DataFrame =
    duplicatedSpans(Tables.documents(spark, dir), "text", "doc_id", SpanK)
      .orderBy(col("doc_id"))

  /** Documents with duplicated 8-token spans stripped. */
  def substringStripQuery(spark: SparkSession, dir: String): DataFrame =
    stripDuplicatedSpans(Tables.documents(spark, dir), "text", "doc_id", SpanK)
      .orderBy(col("doc_id"))

  /** Fuzzy-exact dedup: canonicalize (lowercase, trim, collapse whitespace)
    * before content-hashing — the standard first pass of an LLM data
    * pipeline, catching formatting-only duplicates.
    */
  def normalizedQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(normHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Incremental dedup of the odd-id half (today's batch) against the
    * even-id half (the ingested corpus) — a scale-invariant split. Runs
    * the Bloom-prefilter path, so the oracle (an independent NOT IN
    * formulation) checks the whole bloom → probe → anti-join pipeline.
    */
  def incrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalBloom(
        docs.filter(col("doc_id") % 2 =!= 0),
        docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id",
        expectedItems = 100000L, numBits = 800000L)
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_incremental" -> (incrementalQuery _),
    "llm_dedup_normalized" -> (normalizedQuery _),
    "llm_dedup_exact" -> (exactQuery _),
    "llm_dedup_minhash" -> (minhashQuery _),
    "llm_similar_docs" -> (similarDocsQuery _),
    "llm_dedup_simhash" -> (simhashQuery _),
    "llm_dedup_simhash_ovf" -> (simhashOverflowQuery _),
    "llm_dedup_ngram_jaccard" -> (ngramJaccardQuery _),
    "llm_dedup_containment" -> (containmentQuery _),
    "llm_dedup_containment_ovf" -> (containmentOverflowQuery _),
    "llm_neardup_incremental" -> (incrementalNearDupQuery _),
    "llm_substring_dup" -> (substringDupQuery _),
    "llm_substring_strip" -> (substringStripQuery _),
    "llm_dedup_clusters" -> (clustersQuery _))

  /** Shared oracle fragment: 3-gram shingle sets plus EXACT
    * prefix-filtered near-dup pair generation at J ≥ `NearDupJaccard`,
    * ending in CTE `f(id_a, id_b, j)` with id_a < id_b. Soundness (the
    * AllPairs/PPJoin prefix bound): J(A,B) ≥ τ forces
    * |A∩B| ≥ ceil(τ·max(|A|,|B|)), and two sets with overlap ≥ o must
    * share an element among their first |X| − o + 1 under ANY global
    * token order — ordering by (df, token) puts the RAREST shingles in
    * the prefixes, so the candidate join fans out on rare tokens
    * instead of N²/2 pairs, and the exact jaccard verify then runs
    * only on survivors. Every oracle built on `f` is therefore
    * identical in output to its quadratic `FROM sh a, sh b` ancestor
    * (prototyped row-equal at sf0.01) while staying DuckDB-tractable
    * at sf0.1 (~20 s instead of tens of minutes).
    */
  private val JaccardPrefixCtes: String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1)),
       |    i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
       |         string_split_regex(lower(trim(text)), '\\s+')[i+1] || ' ' ||
       |         string_split_regex(lower(trim(text)), '\\s+')[i+2])) AS s
       |  FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS t, len(s) AS n FROM sh),
       |ordt AS MATERIALIZED (
       |  SELECT doc_id, t, n,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, t) AS rnk
       |  FROM (SELECT doc_id, t, n, COUNT(*) OVER (PARTITION BY t) AS df FROM tok)),
       |pref AS MATERIALIZED (
       |  SELECT doc_id, t FROM ordt
       |  WHERE rnk <= n - CAST(CEIL($NearDupJaccard * n) AS BIGINT) + 1),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id),
       |f AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.s, b.s))) AS j
       |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.s, b.s))) >= $NearDupJaccard)""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_substring_dup" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |win AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
        |    i -> array_to_string(t[i:i+7], ' '))) AS span
        |  FROM toks),
        |freq AS MATERIALIZED (SELECT span, count(*) AS cnt FROM win GROUP BY span),
        |per AS (SELECT w.doc_id, count(*) AS dup_windows
        |        FROM win w JOIN freq f ON w.span = f.span AND f.cnt >= 2 GROUP BY w.doc_id)
        |SELECT k.doc_id, k.n_windows, COALESCE(p.dup_windows, 0) AS dup_windows,
        |  CASE WHEN k.n_windows > 0
        |       THEN round(CAST(COALESCE(p.dup_windows, 0) AS DOUBLE) / k.n_windows, 6) END AS dup_frac
        |FROM (SELECT doc_id, greatest(len(t) - 7, 0) AS n_windows FROM toks) k
        |LEFT JOIN per p ON k.doc_id = p.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // DuckDB list lambdas index 1-based, matching the Spark side's i+1
    "llm_substring_strip" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
        |win AS MATERIALIZED (
        |  SELECT doc_id, i AS s, array_to_string(t[i:i+7], ' ') AS span
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)),
        |freq AS MATERIALIZED (SELECT span FROM win GROUP BY span HAVING COUNT(*) >= 2),
        |ds AS (SELECT w.doc_id, list(DISTINCT w.s) AS starts
        |       FROM win w JOIN freq f USING (span) GROUP BY w.doc_id),
        |cl AS (
        |  SELECT toks.doc_id, toks.t,
        |    list_filter(toks.t, (tok, p) ->
        |      len(list_filter(COALESCE(ds.starts, []), s -> s <= p AND p <= s + 7)) = 0) AS clean
        |  FROM toks LEFT JOIN ds USING (doc_id))
        |SELECT doc_id, len(t) AS n_tokens, len(t) - len(clean) AS n_removed,
        |  -- DuckDB array_to_string([]) is NULL; Spark concat_ws is ''
        |  COALESCE(array_to_string(clean, ' '), '') AS clean_text
        |FROM cl ORDER BY doc_id""".stripMargin,
    // NOT EXISTS, not NOT IN: NOT IN's three-valued logic would silently
    // drop (or empty) the result if any text were NULL, where Spark's
    // left_anti keeps null-hash batch rows — NOT EXISTS matches that
    "llm_dedup_incremental" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS ch
        |  FROM documents)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM h
        |WHERE doc_id % 2 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM h h2 WHERE h2.doc_id % 2 = 0 AND h2.ch = h.ch)
        |GROUP BY ch ORDER BY keep_id""".stripMargin,
    "llm_dedup_normalized" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,
    "llm_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    // the shared EXACT prefix-filtered pair set, reported with scores
    // (soundness note on JaccardPrefixCtes)
    "llm_dedup_ngram_jaccard" ->
      s"""WITH $JaccardPrefixCtes
         |SELECT id_a, id_b, j AS jaccard FROM f
         |ORDER BY id_a, id_b""".stripMargin,
    "llm_dedup_minhash" ->
      s"""WITH $JaccardPrefixCtes
         |SELECT DISTINCT id_b AS drop_id FROM f ORDER BY drop_id""".stripMargin,
    // all-pairs + symmetrize + per-doc window: the ranked-retrieval twin
    // of the minhash oracle (same threshold, same exact jaccard)
    "llm_similar_docs" ->
      s"""WITH $JaccardPrefixCtes,
         |sym AS (
         |  SELECT id_a AS doc_id, id_b AS similar_id, j FROM f
         |  UNION ALL SELECT id_b, id_a, j FROM f)
         |SELECT doc_id, similar_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY j DESC, similar_id) AS INTEGER) AS rank,
         |  ROUND(j, 4) AS jaccard_r
         |FROM sym
         |QUALIFY rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,
    // batch×corpus at J >= 0.8, distinct batch ids — same exact prefix
    // filter as llm_dedup_ngram_jaccard, with the parity split applied
    // at candidate generation
    "llm_neardup_incremental" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1)),
         |    i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+1] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+2])) AS s
         |  FROM documents),
         |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS t, len(s) AS n FROM sh),
         |ordt AS MATERIALIZED (
         |  SELECT doc_id, t, n,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, t) AS rnk
         |  FROM (SELECT doc_id, t, n, COUNT(*) OVER (PARTITION BY t) AS df FROM tok)),
         |pref AS MATERIALIZED (
         |  SELECT doc_id, t FROM ordt
         |  WHERE rnk <= n - CAST(CEIL(0.8 * n) AS BIGINT) + 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT b.doc_id AS id_b, c.doc_id AS id_c
         |  FROM pref b JOIN pref c ON b.t = c.t
         |  WHERE b.doc_id % 2 <> 0 AND c.doc_id % 2 = 0)
         |SELECT DISTINCT x.id_b AS drop_id
         |FROM cand x JOIN sh b ON b.doc_id = x.id_b JOIN sh c ON c.doc_id = x.id_c
         |WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / len(list_distinct(list_concat(b.s, c.s))) >= 0.8
         |ORDER BY drop_id""".stripMargin,
    // all ORDERED pairs (containment is asymmetric: divide by |a|, a ≠ b
    // in either order). Exact prefix filter, asymmetric form:
    // containment(a→b) >= τ forces |A∩B| >= ceil(τ·|A|), so some token
    // of A∩B sits in a's (df,token)-ordered prefix of length
    // |A| - ceil(τ|A|) + 1 — and that token is in B. Candidates =
    // a.prefix ⋈ b.ANY-token (the oracle twin of the inverted-index
    // plan), then the same exact verify. Identical output to the
    // quadratic form; tractable at sf0.1.
    "llm_dedup_containment" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1)),
         |    i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+1] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+2])) AS s
         |  FROM documents),
         |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS t, len(s) AS n FROM sh),
         |ordt AS MATERIALIZED (
         |  SELECT doc_id, t, n,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, t) AS rnk
         |  FROM (SELECT doc_id, t, n, COUNT(*) OVER (PARTITION BY t) AS df FROM tok)),
         |pref AS MATERIALIZED (
         |  SELECT doc_id, t FROM ordt
         |  WHERE rnk <= n - CAST(CEIL($MinContainment * n) AS BIGINT) + 1),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM pref a JOIN tok b ON a.t = b.t AND a.doc_id <> b.doc_id)
         |SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
         |FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= $MinContainment
         |ORDER BY id_a, id_b""".stripMargin,
    // the containment OVERFLOW replica: viral-passage rewrite → the FULL
    // inverted-index pipeline replayed (df table, the >1 ∧ ≤64 retention
    // band, share-a-retained-shingle candidates) UNION the overflow star
    // (shingle-set-class collapse = GROUP BY the set itself, lowest-id
    // ≤ reps representatives per hot shingle, member×rep) → the same
    // exact both-directions verify. Unlike the plain containment oracle
    // (prefix-filtered all-pairs, valid where no shingle crosses the
    // cap), this one replays the cap EXPLICITLY — the planted family is
    // over-cap by construction, so the agreement gates the rescue
    // semantics, not a no-hot-shingle corpus property. The capped arm
    // skips replaying the count-bound prune: the prune is sound for
    // true pairs (slack argument at containmentPairs) and the verify is
    // exact, so both engines emit exactly the true pairs reachable via
    // ≥1 retained shared shingle.
    "llm_dedup_containment_ovf" ->
      s"""WITH hd AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < $ContOvfFam
         |      THEN '$ContOvfTemplate vtail' || CAST(doc_id AS VARCHAR)
         |      ELSE text END AS text
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - 2, 1)),
         |    i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+1] || ' ' ||
         |         string_split_regex(lower(trim(text)), '\\s+')[i+2])) AS s
         |  FROM hd),
         |tok AS MATERIALIZED (SELECT doc_id, unnest(s) AS t FROM sh),
         |dfreq AS MATERIALIZED (SELECT t, COUNT(*) AS df FROM tok GROUP BY t),
         |rarep AS MATERIALIZED (
         |  SELECT tok.doc_id, tok.t FROM tok JOIN dfreq USING (t)
         |  WHERE df > 1 AND df <= 64),
         |cand0 AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rarep a JOIN rarep b ON a.t = b.t AND a.doc_id < b.doc_id),
         |hotp AS MATERIALIZED (
         |  SELECT tok.doc_id, tok.t, sh.s FROM tok
         |  JOIN dfreq USING (t) JOIN sh USING (doc_id)
         |  WHERE df > 64),
         |crep AS (SELECT t, s, MIN(doc_id) AS rep_id FROM hotp GROUP BY t, s),
         |reps AS MATERIALIZED (
         |  SELECT t, rep_id FROM crep
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY t ORDER BY rep_id) <= $ContOvfReps),
         |ovp AS (
         |  SELECT DISTINCT least(h.doc_id, r.rep_id) AS id_a,
         |    greatest(h.doc_id, r.rep_id) AS id_b
         |  FROM hotp h JOIN reps r ON h.t = r.t WHERE h.doc_id <> r.rep_id),
         |cand AS MATERIALIZED (
         |  SELECT id_a, id_b FROM cand0 UNION SELECT id_a, id_b FROM ovp),
         |dirs AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
         |  UNION ALL
         |  SELECT c.id_b, c.id_a,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, containment FROM dirs
         |WHERE containment >= $MinContainment
         |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure over the all-pairs >=0.8 graph: cluster id = min
    // reachable id (same shingle CTE as the pair oracles)
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $JaccardPrefixCtes,
         |e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM f UNION SELECT id_b, id_a FROM f),
         |reach(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
         |SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    // full replica of simhashQuery: poly-mod-2^61-1 token hashes (the
    // list_reduce in HUGEINT replays Mod61.polyHash exactly), per-bit ±1
    // votes, 8×8-bit chunk buckets, the >1 ∧ ≤256 bucket filter,
    // in-bucket pairing, hamming ≤ 7 — so Spark and DuckDB agree by
    // construction at any SF, capped buckets included
    "llm_dedup_simhash" ->
      s"""WITH ${simhashCtes("documents", 256)}
         |SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sha, shb)) <= 7
         |ORDER BY id_a, id_b""".stripMargin,
    // the simhash OVERFLOW replica: hot-family rewrite → the same chunk
    // pipeline at the pinned maxBucket → capped pairs UNION the overflow
    // star (sig-class collapse = GROUP BY the simhash value, lowest-id
    // ≤ reps representatives per oversized bucket, member×rep verify) —
    // the text-side twin of llm_embed_neardup_lsh_ovf's replica
    "llm_dedup_simhash_ovf" ->
      s"""WITH hd AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < $SimOvfFam
         |      THEN '$SimOvfTemplate tail' || CAST(doc_id AS VARCHAR)
         |      ELSE text END AS text
         |  FROM documents),
         |${simhashCtes("hd", SimOvfMaxBucket)},
         |over AS MATERIALIZED (SELECT c, piece FROM cp GROUP BY c, piece
         |          HAVING COUNT(*) > $SimOvfMaxBucket),
         |ob AS MATERIALIZED (SELECT cp.* FROM cp JOIN over USING (c, piece)),
         |crep AS (SELECT c, piece, sh, MIN(doc_id) AS rep_id
         |         FROM ob GROUP BY c, piece, sh),
         |reps AS MATERIALIZED (
         |  SELECT c, piece, rep_id, sh AS rep_sh FROM crep
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c, piece ORDER BY rep_id) <= $SimOvfReps),
         |ovp AS (SELECT least(o.doc_id, r.rep_id) AS id_a,
         |          greatest(o.doc_id, r.rep_id) AS id_b,
         |          o.sh AS sha, r.rep_sh AS shb
         |        FROM ob o JOIN reps r USING (c, piece)
         |        WHERE o.doc_id <> r.rep_id)
         |SELECT DISTINCT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
         |FROM (SELECT id_a, id_b, sha, shb FROM pairs
         |      UNION ALL SELECT id_a, id_b, sha, shb FROM ovp)
         |WHERE bit_count(xor(sha, shb)) <= 7
         |ORDER BY id_a, id_b""".stripMargin)

  /** The simhash chunk-index pipeline as composable CTEs over a source
    * relation `src(doc_id, text)`: poly-mod-2^61-1 token hashes (the
    * list_reduce in HUGEINT replays Mod61.polyHash exactly), per-bit ±1
    * votes, 8×8-bit chunk buckets, and the >1 ∧ ≤maxBucket cap — ending
    * in `cp(doc_id, sh, c, piece)`, `useful`, and the capped
    * `pairs(id_a, id_b, sha, shb)`. Shared by the plain and overflow
    * simhash oracles so the replicas cannot drift.
    */
  private def simhashCtes(src: String, maxBucket: Int): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM $src),
       |th0 AS (SELECT doc_id,
       |         CASE WHEN length(tok) = 0 THEN CAST(0 AS HUGEINT) ELSE
       |           list_reduce(list_transform(range(length(tok)),
       |             i -> CAST(ascii(substr(tok, CAST(i + 1 AS INTEGER), 1)) AS HUGEINT)),
       |             (acc, c) -> (acc * 257 + c) % 2305843009213693951) END AS h0
       |        FROM toks),
       |th1 AS (SELECT doc_id, (h0 * h0 + 2177342782468422681) % 2305843009213693951 AS h1 FROM th0),
       |th2 AS (SELECT doc_id, (h1 * h1 + 194409311614856021) % 2305843009213693951 AS h2 FROM th1),
       |th AS (SELECT doc_id, CAST((h2 * h2 + 1609587929392839161) % 2305843009213693951 AS BIGINT) AS h FROM th2),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |         FROM th CROSS JOIN (SELECT unnest(range(61)) AS b) GROUP BY doc_id, b),
       |sh AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sh
       |       FROM bits GROUP BY doc_id),
       |cp AS MATERIALIZED (SELECT doc_id, sh, c, (sh >> (c * 8)) & 255 AS piece
       |       FROM sh CROSS JOIN (SELECT unnest(range(8)) AS c)),
       |useful AS MATERIALIZED (SELECT c, piece FROM cp GROUP BY c, piece
       |           HAVING COUNT(*) > 1 AND COUNT(*) <= $maxBucket),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
       |          FROM (SELECT cp.* FROM cp JOIN useful USING (c, piece)) a
       |          JOIN (SELECT cp.* FROM cp JOIN useful USING (c, piece)) b
       |            ON a.c = b.c AND a.piece = b.piece AND a.doc_id < b.doc_id)""".stripMargin
}
