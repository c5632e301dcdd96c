package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointBridge, ColumnBridge}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** Common prefix length of the two suffixes of `text` starting at
  * 1-based character offsets `p1` and `p2` — the LCP kernel of the
  * suffix-array repetition detector, computed in place on the shared
  * text so neither suffix is ever materialized as its own string.
  *
  * Offsets are UTF-16 code-unit positions (what `split(text, "")`
  * produces for BMP text — exact for the all-ASCII corpus; documented
  * bound, asserted in SuffixSpec). One `toString` per row is the only
  * allocation, bounded by the row's own text length.
  */
case class CommonPrefixLen(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "common_prefix_len"

  def compute(text: UTF8String, p1: Long, p2: Long): Long = {
    val s = text.toString
    val n = s.length
    var i = p1.toInt - 1
    var j = p2.toInt - 1
    var c = 0L
    while (i < n && j < n && s.charAt(i) == s.charAt(j)) { i += 1; j += 1; c += 1 }
    c
  }

  override def nullSafeEval(t: Any, a: Any, b: Any): Any =
    compute(t.asInstanceOf[UTF8String], a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, a, b) => {
      val ref = ctx.addReferenceObj("cpl", this, classOf[CommonPrefixLen].getName)
      s"${ev.value} = $ref.compute($t, $a, $b);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CommonPrefixLen =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Cross-text LCP: common prefix length of textA's suffix at 1-based
  * offset pA and textB's suffix at pB — the two-document variant of
  * [[CommonPrefixLen]], used by the corpus-level suffix array to
  * measure the exact passage two DIFFERENT documents share. Same
  * UTF-16 offset semantics (exact for BMP; corpus is ASCII).
  */
case class CrossPrefixLen(first: Expression, second: Expression,
                          third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "cross_prefix_len"

  def compute(ta: UTF8String, pa: Long, tb: UTF8String, pb: Long): Long = {
    val a = ta.toString
    val b = tb.toString
    var i = pa.toInt - 1
    var j = pb.toInt - 1
    var c = 0L
    while (i < a.length && j < b.length && a.charAt(i) == b.charAt(j)) { i += 1; j += 1; c += 1 }
    c
  }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Long],
      c.asInstanceOf[UTF8String], d.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val ref = ctx.addReferenceObj("xpl", this, classOf[CrossPrefixLen].getName)
      s"${ev.value} = $ref.compute($a, $b, $c, $d);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): CrossPrefixLen =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Per-document suffix arrays by prefix doubling, and the adjacent-rank
  * LCP that turns them into an exact longest-repeated-substring
  * detector.
  *
  * This is the exact-substring complement to the windowed span dedup
  * ([[Dedup.duplicatedSpans]], Lee et al.'s fixed-k policy) and the
  * winnowing fingerprints ([[TextAnalysis]]): a suffix array answers
  * "what is the longest passage this document repeats" with no k chosen
  * in advance, which is the data structure the dedup literature itself
  * builds (Lee et al. 2022 build corpus-level suffix arrays for exact
  * substring dedup). The reference pipeline has no counterpart — this is
  * part of the training-data surface the survey adds on top of it.
  *
  * Scale shape: the corpus explodes to one row per character, hash-
  * partitioned by doc_id, and every subsequent step is a window inside
  * that one partitioning — ceil(log2 maxLen) doubling rounds of
  * (lead-by-k, dense_rank), each a per-document sort, none a corpus-wide
  * one. Documents are the parallel unit: total work is O(chars · log
  * maxLen), task skew is bounded by the longest single document, and no
  * stage ever holds a document's pairs — the LCP pass touches only the
  * len-1 ADJACENT pairs of the suffix order (max over them equals the
  * max over all pairs — the classic suffix-array LRS identity). At
  * 100 TB the per-character row tax (~16 bytes overhead per char) is the
  * honest cost Lee et al. pay too; the build stays embarrassingly
  * parallel because ranks never cross documents.
  */
object Suffix {

  /** Registered queries sample every 10th doc: the output is a per-
    * suffix dump (one row per character), so the sample keeps the
    * correctness artifact ~15k rows at sf0.01 while still covering 50+
    * full documents end to end.
    */
  private val SampleMod = 10

  def lcp(text: Column, p1: Column, p2: Column): Column =
    ColumnBridge.column(CommonPrefixLen(
      ColumnBridge.expression(text), ColumnBridge.expression(p1), ColumnBridge.expression(p2)))

  /** Seed width: the first round ranks length-16 prefixes directly (a
    * lead-concat inside the doc partition — one window sort), replacing
    * the four single-char doubling rounds 1→2→4→8→16. Chosen so the seed
    * string still packs into UnsafeRow inline storage territory while
    * typical vocab text already distinguishes most suffix pairs.
    */
  private[llm] val SeedChars = 16

  /** (doc_id, pos, suffix_rank): the rank of each suffix `text[pos..]`
    * in its document's lexicographic suffix order (both 1-based).
    *
    * Prefix doubling: the seed round ranks length-[[SeedChars]] prefixes
    * (missing tail chars concat as "" — a proper prefix sorts first,
    * exactly like string order); each later round refines rank_k to
    * rank_2k by ranking the pair (rank_k(pos), rank_k(pos+k)) —
    * `lead(rank, k)` inside the doc partition, -1 past the end.
    * dense_rank keeps ties dense so the next round's pair comparison
    * stays exact. All windows share one hash(doc_id) partitioning.
    *
    * With `materializeRounds` (the default) every round is an eager
    * localCheckpoint — the round then reads its parent's materialized
    * blocks instead of recomputing the window stack, superseded
    * checkpoints are unpersisted as soon as their successor lands, and a
    * cheap ties-remaining probe on the fresh blocks stops the loop early
    * (random-vocab text resolves in one or two refine rounds; only
    * pathological self-similar documents need the full log₂ maxLen).
    * Pass false to build the one declarative plan (used by the plan
    * asserts; identical result, no early exit).
    */
  def suffixRanks(docs: DataFrame, textCol: String, idCol: String,
                  materializeRounds: Boolean = true): DataFrame = {
    val byDoc = Window.partitionBy("doc_id")
    val byPos = byDoc.orderBy(col("pos"))
    val seed = concat_ws("",
      (0 until SeedChars).map(i => coalesce(lead(col("ch"), i).over(byPos), lit(""))): _*)
    var ranks = docs
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("ch"))
      .withColumn("seed", seed)
      .withColumn("r", dense_rank().over(byDoc.orderBy(col("seed"))).cast("long"))
      .select("doc_id", "pos", "r")
    if (materializeRounds) ranks = ranks.localCheckpoint()
    val maxLen = docs.agg(max(length(col(textCol)))).head() match {
      case row if row.isNullAt(0) => 0
      case row => row.getInt(0)
    }
    // Ties probe DERIVED from the dense_rank invariant: within a doc,
    // max(r) = #distinct ranks ≤ #positions, equal iff no rank is
    // shared — so Σ_doc (count − max r) > 0 detects ties with one pass
    // over the checkpointed blocks and a #docs-wide shuffle of map-side
    // partials. The previous groupBy(doc_id, r) probe shuffled up to
    // one row per POSITION per doubling round, which at 100× corpus
    // scale costs as much as the refinement it guards.
    def tiesRemain(df: DataFrame): Boolean = df
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) - coalesce(max(col("r")), lit(0L))).as("gap"))
      .agg(sum(col("gap")).as("g")).head().getLong(0) > 0L
    var k = SeedChars
    var continue = k < maxLen && (!materializeRounds || tiesRemain(ranks))
    while (continue) {
      val refined = ranks
        .withColumn("r2", lead(col("r"), k, -1L).over(byPos))
        .withColumn("r", dense_rank().over(byDoc.orderBy(col("r"), col("r2"))).cast("long"))
        .select("doc_id", "pos", "r")
      if (materializeRounds) {
        val next = refined.localCheckpoint()
        graft.store.Checkpoints.free(ranks)
        ranks = next
      } else ranks = refined
      k *= 2
      continue = k < maxLen && (!materializeRounds || tiesRemain(ranks))
    }
    ranks.withColumnRenamed("r", "suffix_rank")
  }

  /** (doc_id, lrs_len): length of the longest substring occurring at
    * least twice in the document (0 when nothing repeats). Adjacent
    * suffixes in rank order, LCP via [[CommonPrefixLen]] on the shared
    * text — the join back to `docs` ships each document once per
    * adjacent pair; bounded by doc length, and the only stage of the
    * family that carries text after the initial explode.
    */
  def longestRepeatedSubstring(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    lrsFromRanks(suffixRanks(docs, textCol, idCol), docs, textCol, idCol)

  private def lrsFromRanks(ranks: DataFrame, docs: DataFrame,
                           textCol: String, idCol: String): DataFrame = {
    val byRank = Window.partitionBy("doc_id").orderBy(col("suffix_rank"))
    val adj = ranks
      .withColumn("prev_pos", lag(col("pos"), 1).over(byRank))
      .filter(col("prev_pos").isNotNull)
    adj
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("t")), Seq("doc_id"))
      .select(col("doc_id"), lcp(col("t"), col("pos"), col("prev_pos")).as("l"))
      .groupBy(col("doc_id")).agg(max(col("l")).as("mx"))
      // len-1 docs have no adjacent pair: re-join the sampled corpus so
      // they report 0 like the oracle's prev-IS-NULL branch
      .join(docs.filter(length(col(textCol)) >= 1).select(col(idCol).as("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("mx"), lit(0L)).as("lrs_len"))
  }

  // ---- registered queries -------------------------------------------------

  private[graft] def sampled(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(SampleMod)) === 0)

  /** Both registered queries read ONE rank build per (session, corpus
    * snapshot); suffixRanks already returns a checkpointed frame, so the
    * memo stores it as-is. The library API
    * (suffixRanks / longestRepeatedSubstring) stays un-memoized.
    */
  private val ranksCache = new graft.store.SessionMemo[(String, Long), DataFrame](
    1, (_, df) => graft.store.Checkpoints.free(df))

  private def sampledRanks(spark: SparkSession, dir: String): DataFrame =
    ranksCache.get(spark, (dir, graft.store.Snapshot.fingerprint(dir, "documents.parquet"))) {
      suffixRanks(sampled(spark, dir), "text", "doc_id")
    }

  def suffixArrayQuery(spark: SparkSession, dir: String): DataFrame =
    sampledRanks(spark, dir)
      .orderBy(col("doc_id"), col("pos"))

  def lrsQuery(spark: SparkSession, dir: String): DataFrame =
    lrsFromRanks(sampledRanks(spark, dir), sampled(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_suffix_array" -> (suffixArrayQuery _),
    "llm_suffix_lrs" -> (lrsQuery _))

  private val suffixesSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 1),
      |p AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos FROM d),
      |sfx AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |               substr(text, CAST(pos AS INT)) AS suf FROM p)""".stripMargin

  /** Suffix order is total (same-document suffixes have distinct
    * lengths, so they never compare equal), hence row_number equals the
    * engine's dense_rank and the dump hashes exactly. The LCP oracle
    * exploits monotonicity: prefixes of length 1..k all match iff the
    * length-k prefixes match, so COUNTING matching k equals max k.
    */
  val oracles: Map[String, String] = Map(
    "llm_suffix_array" ->
      s"""$suffixesSql
         |SELECT doc_id, pos,
         |       row_number() OVER (PARTITION BY doc_id ORDER BY suf) AS suffix_rank
         |FROM sfx ORDER BY doc_id, pos""".stripMargin,
    "llm_suffix_lrs" ->
      s"""$suffixesSql,
         |adj AS (SELECT doc_id, suf,
         |               lag(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS prev
         |        FROM sfx),
         |lcps AS (SELECT doc_id,
         |           CASE WHEN prev IS NULL THEN 0
         |                ELSE len(list_filter(generate_series(1, least(length(suf), length(prev))),
         |                         k -> substr(suf, 1, CAST(k AS INT)) = substr(prev, 1, CAST(k AS INT)))) END AS lcp
         |         FROM adj)
         |SELECT doc_id, CAST(max(lcp) AS BIGINT) AS lrs_len
         |FROM lcps GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}

/** CORPUS-LEVEL suffix array: one suffix rank space across every
  * document (suffixes never cross document ends), built by the same
  * prefix doubling as [[Suffix]] but with GLOBAL dense ranks — this is
  * the data structure Lee et al. 2022 actually build for exact
  * substring dedup, where the question is "which passages recur
  * ANYWHERE in the corpus", not "what does one document repeat".
  *
  * The scale problem global ranking poses is the one every global
  * order statistic here poses: an unpartitioned window plans
  * SinglePartition. The build instead follows the house TwoPass
  * discipline (Corpus.curriculum / Linkage.sortedNeighborhoodPairs):
  * each doubling round range-partitions by the (rank, next-rank) key,
  * sorts within partitions, folds each partition to ONE driver row
  * (distinct-group count + boundary keys — a numPartitions-sized
  * artifact), prefix-scans those into per-partition dense-rank bases,
  * and assigns ranks in a single mapPartitions pass. Equal keys land in
  * one range partition, and the fold still dedups boundary-equal keys
  * as belt. Rounds ≤ log2(max DOC length) — document length, not corpus
  * length, bounds the doubling depth, because suffixes stop at document
  * ends; the ties-remaining early exit applies, with the caveat that
  * cross-document IDENTICAL suffixes tie forever (they are the signal —
  * equal ranks mean equal text), so the loop is also bounded by k.
  *
  * The cross-document report then needs suffix-order ADJACENCY: a
  * global sequence number (same TwoPass shape, count fold), a self
  * equi-join on s = s−1, a doc_a ≠ doc_b filter, and the codegen'd
  * [[CrossPrefixLen]] on the two texts. Max shared passage over ALL
  * cross-doc pairs equals the max over ADJACENT cross-doc pairs: for
  * any i < j of different docs, the range [i, j] contains a doc-change
  * boundary, and range-min LCP ≤ that boundary pair's LCP — so scanning
  * the n−1 adjacencies, never n²/2 pairs, is exact.
  */
object CorpusSuffix {

  import org.apache.spark.sql.Dataset

  /** Exact shared-prefix length of textA's suffix at pa and textB's
    * suffix at pb (1-based char offsets).
    */
  def crossLcp(ta: Column, pa: Column, tb: Column, pb: Column): Column =
    ColumnBridge.column(CrossPrefixLen(
      ColumnBridge.expression(ta), ColumnBridge.expression(pa),
      ColumnBridge.expression(tb), ColumnBridge.expression(pb)))

  /** Global dense rank of `key` over (doc_id, pos) rows: range-sorted,
    * TwoPass boundary-aware distinct fold, one assignment pass. Returns
    * an EAGERLY checkpointed (doc_id, pos, r) frame and unpersists its
    * scratch RDD.
    */
  private def globalDenseRank[K: Ordering](
      spark: SparkSession,
      sortedDs: Dataset[(K, Long, Long)]): DataFrame = {
    import spark.implicits._
    val sorted = sortedDs.rdd.localCheckpoint() // both TwoPass passes read the runs
    type S = (Long, Option[K], Option[K]) // (#distinct, first key, last key)
    val (offs, _) = graft.ops.TwoPass.prefixAndTotal[(K, Long, Long), S](
      sorted, (0L, None, None),
      (s, row) =>
        if (s._3.contains(row._1)) s
        else (s._1 + 1, s._2.orElse(Some(row._1)), Some(row._1)),
      (a, b) =>
        if (b._1 == 0) a
        else if (a._1 == 0) b
        else (a._1 + b._1 - (if (a._3 == b._2) 1 else 0), a._2, b._3))
    val ranked = sorted.mapPartitionsWithIndex { case (i, it) =>
      var rank = offs(i)._1
      var last: Option[K] = offs(i)._3
      it.map { case (key, d, p) =>
        if (!last.contains(key)) { rank += 1; last = Some(key) }
        (d, p, rank)
      }
    }.toDF("doc_id", "pos", "r").localCheckpoint()
    CheckpointBridge.unpersist(sorted)
    ranked
  }

  // Globally dense ranks: max(r) = #distinct suffix values ≤ #rows,
  // equal iff every rank is unique — ONE scalar aggregate (map-side
  // partials, one row per partition shuffled) replaces the groupBy(r)
  // probe that shuffled up to one row per distinct rank per round.
  private def tiesRemain(ranks: DataFrame): Boolean = ranks
    .agg((count(lit(1)) - coalesce(max(col("r")), lit(0L))).as("gap"))
    .head().getLong(0) > 0L

  /** (doc_id, pos, r): GLOBAL dense suffix ranks — r is dense over
    * suffix VALUES, so cross-document identical suffixes share a rank.
    */
  def corpusSuffixRanks(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val byDoc = Window.partitionBy("doc_id")
    val byPos = byDoc.orderBy(col("pos"))
    val seed = concat_ws("",
      (0 until Suffix.SeedChars).map(i => coalesce(lead(col("ch"), i).over(byPos), lit(""))): _*)
    val seeded = docs
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("ch"))
      .withColumn("seed", seed)
    var ranks = globalDenseRank[String](spark,
      seeded.select(col("seed"), col("doc_id"), col("pos")).as[(String, Long, Long)]
        .repartitionByRange(col("seed"), col("doc_id"), col("pos"))
        .sortWithinPartitions(col("seed"), col("doc_id"), col("pos")))
    val maxLen = docs.agg(max(length(col(textCol)))).head() match {
      case row if row.isNullAt(0) => 0
      case row => row.getInt(0)
    }
    var k = Suffix.SeedChars
    while (k < maxLen && tiesRemain(ranks)) {
      val paired = ranks
        .withColumn("r2", lead(col("r"), k, -1L).over(byPos))
      val next = globalDenseRank[(Long, Long)](spark,
        paired.select(struct(col("r"), col("r2")).as("key"), col("doc_id"), col("pos"))
          .as[((Long, Long), Long, Long)]
          .repartitionByRange(col("key"), col("doc_id"), col("pos"))
          .sortWithinPartitions(col("key"), col("doc_id"), col("pos")))
      graft.store.Checkpoints.free(ranks)
      ranks = next
      k *= 2
    }
    ranks
  }

  /** Adjacent pairs in global suffix order between DIFFERENT documents,
    * with the exact shared-prefix length: (doc_a, pos_a, doc_b, pos_b,
    * shared_len), where (doc_a, pos_a) is the suffix-order predecessor.
    * Order within equal suffixes is (r, doc_id, pos) — total and
    * deterministic.
    */
  /** Global suffix-order sequence numbers WITH the order-predecessor
    * inlined: (s, doc_id, pos, adoc, apos) — s the 1-based ordinal of
    * the suffix in (rank, doc_id, pos) order, (adoc, apos) the (s−1)
    * row's (doc_id, pos), null at s = 1. The predecessor is PHYSICALLY
    * the previous row of the range-sorted RDD, so it rides the same
    * TwoPass carry that assigns s (the boundary seed is the previous
    * partition's last row) — the r20 consumers re-derived it with an
    * s-shifted self-join each: one SMJ, two hash exchanges and two
    * sorts of the CHARACTER-level frame, to look one row to the left
    * (removed r21, guide §2.4).
    */
  private def globalSeq(ranks: DataFrame): DataFrame = {
    val spark = ranks.sparkSession
    import spark.implicits._
    val sorted = ranks.select(col("r"), col("doc_id"), col("pos"))
      .as[(Long, Long, Long)]
      .repartitionByRange(col("r"), col("doc_id"), col("pos"))
      .sortWithinPartitions(col("r"), col("doc_id"), col("pos"))
      .rdd.localCheckpoint()
    // carry = (row count, last (doc_id, pos)): the count seeds s, the
    // last row seeds the first row's predecessor across the boundary
    type S = (Long, Option[(Long, Long)])
    val (offs, _) = graft.ops.TwoPass.prefixAndTotal[(Long, Long, Long), S](
      sorted, (0L, None),
      (s, row) => (s._1 + 1, Some((row._2, row._3))),
      (a, b) => (a._1 + b._1, b._2.orElse(a._2)))
    val seq = sorted.mapPartitionsWithIndex { case (i, it) =>
      var s = offs(i)._1
      var prev = offs(i)._2
      it.map { case (_, d, p) =>
        s += 1
        val out = (s, d, p, prev.map(_._1), prev.map(_._2))
        prev = Some((d, p))
        out
      }
    }.toDF("s", "doc_id", "pos", "adoc", "apos").localCheckpoint()
    CheckpointBridge.unpersist(sorted)
    seq
  }

  def crossDocAdjacent(ranks: DataFrame, docs: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val (seq, plan) = crossDocAdjacentPlan(ranks, docs, textCol, idCol)
    // materialize the cross-doc pair frame, then release the sequence
    // scratch: the returned frame must not pin the big checkpoint
    val out = plan.localCheckpoint()
    graft.store.Checkpoints.free(seq)
    out
  }

  /** [[crossDocAdjacent]]'s LAZY plan plus the checkpointed sequence
    * frame it reads — the `winnowOverlapPlan` split, same contract
    * (caller releases the first element with `Checkpoints.free` after
    * consuming the second): the eager checkpoint above severs the
    * adjacent-pair join and the two doc-text fetch joins from plan
    * inspection, and those are exactly the joins `graft.Profile`'s
    * scale points must see.
    */
  private[graft] def crossDocAdjacentPlan(ranks: DataFrame, docs: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val seq = globalSeq(ranks)
    val txt = docs.select(col(idCol).cast("long").as("tdoc"), col(textCol).as("t"))
    val lcp = crossLcp(col("ta"), col("pos_a"), col("tb"), col("pos_b"))
    // adjacent pairs read straight off the predecessor globalSeq inlines
    // — the r20 s-shifted self-join (SMJ + two exchanges + two sorts of
    // the character-level frame) is gone (r21, guide §2.4).
    // shuffle_hash on the doc-text fetch sides (round 19): PlanDiag
    // measured both flipping BroadcastHashJoin → SortMergeJoin between
    // 40× and 80× — the flip sorts the CHARACTER-level sequence frame
    // on doc ids to fetch one text row per sampled doc
    val plan = seq
      .filter(col("adoc").isNotNull && col("adoc") =!= col("doc_id"))
      .select(col("adoc").as("doc_a"), col("apos").as("pos_a"),
        col("doc_id").as("doc_b"), col("pos").as("pos_b"))
      .join(txt.select(col("tdoc").as("doc_a"), col("t").as("ta"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(txt.select(col("tdoc").as("doc_b"), col("t").as("tb"))
        .hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"), lcp.as("shared_len"))
    (seq, plan)
  }

  /** Per-document MAX shared passage with ANY other document:
    * (doc_id, max_shared_len). For a suffix i, the best different-doc
    * partner is its NEAREST different-doc neighbor in suffix order
    * (range-min LCP is non-increasing with distance), and that nearest
    * neighbor sits just beyond i's same-doc RUN — so the scan needs only
    * (a) every ADJACENT pair's LCP, (b) run ids (one TwoPass carry:
    * global cumsum of doc-change flags), and (c) two run-partitioned
    * running-min windows (prefix min of the predecessor LCP, suffix min
    * of the successor LCP — the run's boundary LCP rows seed them, and
    * the coalesced 0 at the order's edges makes edge runs report 0
    * without special-casing). Runs are hash partitions — bounded by the
    * longest same-doc run, never corpus-sized — and nothing here is an
    * unpartitioned window.
    */
  def crossDocMax(ranks: DataFrame, docs: DataFrame,
                  textCol: String, idCol: String): DataFrame = {
    val spark = ranks.sparkSession
    import spark.implicits._
    val (seq, lpPlan) = crossDocLpPlan(ranks, docs, textCol, idCol)
    val lpF = lpPlan.localCheckpoint() // feeds the run scan
    // ln(s) = lp(s+1): the LCP toward the successor (0 at the end). The
    // r20 form paid an s-shifted LEFT join (two hash exchanges + two
    // sorts of the character-level frame) to look ONE ROW to the right;
    // the run-id cumsum below already walks the frame in s order, so the
    // lookahead rides the same pass — within a partition it is the next
    // physical row, across the boundary a next-partition-first-lp carry
    // (0 past the global end = the old left-join null → coalesce 0)
    // (r21, guide §2.4)
    val sortedRows = lpF
      .select(col("s"), col("doc_id"), col("lp"),
        when(col("adoc").isNull || col("adoc") =!= col("doc_id"), 1L)
          .otherwise(0L).as("chg"))
      .as[(Long, Long, Long, Long)]
      .repartitionByRange(col("s"))
      .sortWithinPartitions(col("s"))
      .rdd.localCheckpoint()
    // run_id: global cumsum of chg — the TwoPass carry over s order
    val (offs, _) = graft.ops.TwoPass.prefixAndTotal[(Long, Long, Long, Long), Long](
      sortedRows, 0L, (acc, r) => acc + r._4, _ + _)
    // per-partition first lp (a head-only job over the checkpointed
    // runs); suffix-scan it so a partition's LAST row reads the first lp
    // of the next NON-EMPTY partition (range partitions can be empty)
    val firsts = sortedRows.mapPartitionsWithIndex { case (i, it) =>
      Iterator((i, it.take(1).toSeq.headOption.map(_._3)))
    }.collect().sortBy(_._1).map(_._2)
    val nextLp = firsts.scanRight(0L)((f, acc) => f.getOrElse(acc))
    val withRun = sortedRows.mapPartitionsWithIndex { case (i, it) =>
      var run = offs(i)
      val carry = nextLp(i + 1)
      val buf = it.buffered
      new Iterator[(Long, Long, Long, Long, Long)] {
        def hasNext: Boolean = buf.hasNext
        def next(): (Long, Long, Long, Long, Long) = {
          val (sq, d, lp, chg) = buf.next()
          val ln = if (buf.hasNext) buf.head._3 else carry
          run += chg
          (sq, d, lp, ln, run)
        }
      }
    }.toDF("s", "doc_id", "lp", "ln", "run_id").localCheckpoint()
    CheckpointBridge.unpersist(sortedRows)
    // sortedRows (already materialized) carried everything lpF fed it;
    // release the LCP scratch and the sequence frame now
    graft.store.Checkpoints.free(lpF, seq)
    val byRun = Window.partitionBy("run_id").orderBy(col("s"))
    val best = withRun
      .withColumn("dprev", min(col("lp")).over(
        byRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dnext", min(col("ln")).over(
        byRun.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .select(col("doc_id"), greatest(col("dprev"), col("dnext")).as("b"))
    // per-doc result, then release the run-scan checkpoint
    val out = best.groupBy(col("doc_id")).agg(max(col("b")).as("max_shared_len"))
      .localCheckpoint()
    graft.store.Checkpoints.free(withRun)
    out
  }

  /** [[crossDocMax]]'s LCP stage LAZILY plus the checkpointed sequence
    * frame it reads (the `crossDocAdjacentPlan` contract: caller
    * releases the first element with `Checkpoints.free` after consuming
    * the second). The
    * flip-prone joins of the max pipeline all live here — the s-shifted
    * predecessor self-join and the two doc-text fetch joins; everything
    * downstream of the lpF checkpoint is windows over run partitions.
    */
  private[graft] def crossDocLpPlan(ranks: DataFrame, docs: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val seq = globalSeq(ranks)
    val txt = docs.select(col(idCol).cast("long").as("tdoc"), col(textCol).as("t"))
    // lp(s) = LCP of suffixes at order positions s-1 and s (0 at s=1) —
    // the predecessor is inlined by globalSeq (r21); the r20 s-shifted
    // LEFT self-join (two exchanges + two sorts of the character-level
    // frame) is gone, only the doc-text fetch joins remain.
    // shuffle_hash on the doc-text fetch sides — the crossDocAdjacentPlan
    // flip note applies verbatim (measured on both queries at 80×)
    val plan = seq
      .join(txt.select(col("tdoc").as("adoc"), col("t").as("ta"))
        .hint("shuffle_hash"), Seq("adoc"), "left")
      .join(txt.select(col("tdoc").as("doc_id"), col("t").as("tb"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .select(col("s"), col("doc_id"), col("adoc"),
        when(col("adoc").isNull, 0L)
          .otherwise(crossLcp(col("ta"), col("apos"), col("tb"), col("pos"))).as("lp"))
    (seq, plan)
  }

  // ---- registered queries -------------------------------------------------

  private val SampleMod = 10

  private def sampled(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(SampleMod)) === 0)

  private val ranksCache = new graft.store.SessionMemo[(String, Long), DataFrame](
    1, (_, df) => graft.store.Checkpoints.free(df))

  private def sampledRanks(spark: SparkSession, dir: String): DataFrame =
    ranksCache.get(spark, (dir, graft.store.Snapshot.fingerprint(dir, "documents.parquet"))) {
      corpusSuffixRanks(sampled(spark, dir), "text", "doc_id")
    }

  /** Registered-parameter plan forms for `graft.Profile`'s lazy plans
    * (the ranks build itself executes — memoized and inherently
    * roundwise — but the downstream join shapes come back LAZY).
    */
  private[graft] def crossDocMaxPlanQuery(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    crossDocLpPlan(sampledRanks(spark, dir), sampled(spark, dir), "text", "doc_id")

  private[graft] def crossDocSpansPlanQuery(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    crossDocAdjacentPlan(sampledRanks(spark, dir), sampled(spark, dir), "text", "doc_id")

  def corpusSaQuery(spark: SparkSession, dir: String): DataFrame =
    sampledRanks(spark, dir)
      .select(col("doc_id"), col("pos"), col("r").as("suffix_rank"))
      .orderBy(col("doc_id"), col("pos"))

  /** Top-20 adjacent cross-document overlaps, longest first. */
  def crossDocSpansQuery(spark: SparkSession, dir: String): DataFrame =
    crossDocAdjacent(sampledRanks(spark, dir), sampled(spark, dir), "text", "doc_id")
      .orderBy(col("shared_len").desc, col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
      .limit(20)

  def crossDocMaxQuery(spark: SparkSession, dir: String): DataFrame =
    crossDocMax(sampledRanks(spark, dir), sampled(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_corpus_sa" -> (corpusSaQuery _),
    "llm_cross_doc_spans" -> (crossDocSpansQuery _),
    "llm_cross_doc_max" -> (crossDocMaxQuery _))

  private val suffixesSql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 AND length(text) >= 1),
      |p AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos FROM d),
      |sfx AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |               substr(text, CAST(pos AS INT)) AS suf FROM p)""".stripMargin

  val oracles: Map[String, String] = Map(
    // dense over suffix VALUES: cross-doc identical suffixes share a rank
    "llm_corpus_sa" ->
      s"""$suffixesSql
         |SELECT doc_id, pos,
         |       CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
         |FROM sfx ORDER BY doc_id, pos""".stripMargin,
    "llm_cross_doc_spans" ->
      s"""$suffixesSql,
         |ord AS (SELECT doc_id, pos, suf,
         |               lag(doc_id) OVER w AS p_doc, lag(pos) OVER w AS p_pos,
         |               lag(suf) OVER w AS p_suf
         |        FROM sfx WINDOW w AS (ORDER BY suf, doc_id, pos)),
         |x AS (SELECT p_doc AS doc_a, p_pos AS pos_a, doc_id AS doc_b, pos AS pos_b,
         |        CAST(len(list_filter(generate_series(1, least(length(suf), length(p_suf))),
         |             k -> substr(suf, 1, CAST(k AS INT)) = substr(p_suf, 1, CAST(k AS INT)))) AS BIGINT) AS shared_len
         |      FROM ord WHERE p_doc IS NOT NULL AND p_doc <> doc_id)
         |SELECT doc_b, doc_a, pos_a, pos_b, shared_len FROM x
         |ORDER BY shared_len DESC, doc_a, pos_a, doc_b, pos_b LIMIT 20""".stripMargin,
    // the same run-partitioned nearest-different-doc-neighbor scan,
    // stated with (single-node) global windows: lag/lead LCPs, doc-change
    // cumsum run ids, run-scoped prefix/suffix running minima
    "llm_cross_doc_max" ->
      s"""$suffixesSql,
         |ord AS (SELECT doc_id, suf,
         |               row_number() OVER w AS s,
         |               lag(doc_id) OVER w AS pdoc, lag(suf) OVER w AS psuf,
         |               lead(suf) OVER w AS nsuf
         |        FROM sfx WINDOW w AS (ORDER BY suf, doc_id, pos)),
         |l AS (SELECT doc_id, s,
         |        CASE WHEN psuf IS NULL THEN 0
         |             ELSE len(list_filter(generate_series(1, least(length(suf), length(psuf))),
         |                  k -> substr(suf, 1, CAST(k AS INT)) = substr(psuf, 1, CAST(k AS INT)))) END AS lp,
         |        CASE WHEN nsuf IS NULL THEN 0
         |             ELSE len(list_filter(generate_series(1, least(length(suf), length(nsuf))),
         |                  k -> substr(suf, 1, CAST(k AS INT)) = substr(nsuf, 1, CAST(k AS INT)))) END AS ln,
         |        CASE WHEN pdoc IS NULL OR pdoc <> doc_id THEN 1 ELSE 0 END AS chg
         |      FROM ord),
         |r AS (SELECT *, SUM(chg) OVER (ORDER BY s) AS run_id FROM l),
         |dd AS (SELECT doc_id,
         |        MIN(lp) OVER (PARTITION BY run_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS dprev,
         |        MIN(ln) OVER (PARTITION BY run_id ORDER BY s
         |                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dnext
         |      FROM r)
         |SELECT doc_id, CAST(MAX(GREATEST(dprev, dnext)) AS BIGINT) AS max_shared_len
         |FROM dd GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
