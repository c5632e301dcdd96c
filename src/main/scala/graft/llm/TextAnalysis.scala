package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis for training-data pipelines (builder brief): language ID,
  * quality scoring, token counting, document fingerprinting — all as
  * codegen'd column expressions over the `documents` table, so they run
  * at full scan speed on any number of executors.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword unit count: runs of letters, runs of digits, and
    * single other non-space chars — a cheap proxy for tokenizer load.
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Stopword-hit counts per language (the n-gram-free heuristic half of
    * language ID; word-boundary regexes keep it one scan per language).
    */
  val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "(the|and|is|of|to)",
    "de" -> "(der|die|das|und|ist)",
    "es" -> "(el|los|las|es|y)",
    "fr" -> "(le|les|des|est|et)")

  def stopwordHits(text: Column, wordsAlternation: String): Column =
    regexp_count(lower(text), lit("\\b" + wordsAlternation + "\\b"))

  /** Deterministic argmax over the language scores (ties resolve in
    * declaration order: en > de > es > fr).
    */
  def langPredict(scores: Seq[(String, Column)]): Column = {
    def pick(rest: List[(String, Column)]): Column = rest match {
      case (lang, c) :: tail if tail.nonEmpty =>
        when(tail.map(_._2).map(c >= _).reduce(_ && _), lit(lang)).otherwise(pick(tail))
      case (lang, _) :: Nil => lit(lang)
      case Nil => lit("und")
    }
    pick(scores.toList)
  }

  /** Quality score ∈ [0,1]: length saturation + stopword density + sane
    * average word length. Pure double arithmetic (oracle-reproducible).
    */
  def qualityScore(tokens: Column, stopHits: Column, avgWordLen: Column): Column =
    lit(0.4) * least(lit(1.0), tokens / lit(100.0)) +
      lit(0.3) * least(lit(1.0), stopHits * lit(10.0) / tokens) +
      lit(0.3) * when(avgWordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.0))

  /** Gopher-style intra-document repetition metrics (Rae et al. 2021,
    * §A1.1 analogues for single-line docs): duplicate-token fraction and
    * the share of all bigrams taken by the single most frequent bigram —
    * high values mark boilerplate/keyword-stuffed spam for the quality
    * floor. Bigrams explode into a doc-keyed aggregation (the TF-IDF
    * shuffle shape): linear in corpus size, never quadratic.
    */
  def repetition(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val base = docs.select(col(idCol), toks.as("t"))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("dup_token_frac",
        lit(1.0) - size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
    val bigrams = base.select(col(idCol),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
    val top = bigrams.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bg"))
    // LEFT join: a one-token doc has no bigrams — it must still get a row
    // (null bigram share), not silently vanish from the metric table
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("dup_token_frac"),
        (col("top_c").cast("double") / col("n_bg")).as("top_bigram_frac"))
  }

  /** Corpus-frequency commonness score: the mean document frequency of a
    * doc's token occurrences, normalized by corpus size — the integer-exact
    * stand-in for unigram-LM log-probability (ln differs in the last ulp
    * across libm implementations; df ratios do not, so the score is
    * engine-deterministic). Low scores mark rare-vocabulary docs the same
    * way high perplexity does.
    *
    * Scale shape: tf aggregation per (doc, token) FIRST (shrinks the
    * explode before any join), then a join against the vocabulary on
    * token — stopwords are hot keys, which AQE skew-split handles; when
    * the vocabulary fits the broadcast budget Spark broadcasts it and the
    * corpus never shuffles for the join.
    */
  def unigramCommonness(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "tok")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("tf") * col("df")).as("sum_df"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("n_tokens"), col("sum_df"),
        (col("sum_df").cast("double") / (col("n_tokens") * col("n_docs")).cast("double"))
          .as("commonness"))
  }

  /** Vocabulary coverage curve: the top `topN` tokens by corpus frequency
    * with their cumulative coverage fraction — the analysis a tokenizer
    * build runs to size its vocab ("how many types cover 95% of
    * tokens?"). Scale shape: the heavy work is ONE distributed
    * token-count aggregation; the global ordering then runs on the
    * (already tiny) type table, and the rank/cumsum windows see only the
    * `topN` survivors of a distributed TakeOrdered — the curve's prefix
    * sums are unchanged by dropping lower ranks, so no full-vocab
    * single-partition window ever exists.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the type table feeds two consumers (top-N and the corpus total);
    // checkpointing it makes the corpus scan+aggregate happen ONCE —
    // without it Catalyst plans two full scans (same pattern as the
    // containment query's shingle frame)
    val counts = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val total = counts.agg(sum(col("freq")).as("total"))
    val top = counts.orderBy(col("freq").desc, col("token")).limit(topN)
    val ord = Window.orderBy(col("freq").desc, col("token"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord))
      .withColumn("cum_freq", sum(col("freq")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("token"), col("freq"),
        round(col("cum_freq").cast("double") / col("total").cast("double"), 6)
          .as("coverage"))
  }

  /** Per-source out-of-vocabulary mass under a top-`vocabN` frequency
    * vocabulary: the number a tokenizer/vocab decision is actually made
    * on ("which sources blow the vocab budget"). The corpus is scanned
    * and exploded ONCE, straight into a (source, token, tf) aggregate —
    * per-source-vocabulary sized, orders smaller than the token stream —
    * which is checkpointed and feeds all three consumers (global top-N
    * vocabulary, in-vocab rollup, per-source totals); without the
    * checkpoint Catalyst planned three full corpus scans+explodes
    * (r5 verdict #5; `vocabCoverage` uses the same pattern).
    */
  def oovBySource(docs: DataFrame, textCol: String, srcCol: String,
                  vocabN: Int): DataFrame = {
    val st = docs
      .select(col(srcCol).as("source"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val vocab = st.groupBy(col("token")).agg(sum(col("tf")).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(vocabN)
      .select(col("token"))
    val inVocab = st.join(broadcast(vocab), Seq("token"), "left_semi")
      .groupBy(col("source")).agg(sum(col("tf")).as("n_in_vocab"))
    st.groupBy(col("source")).agg(sum(col("tf")).as("n_tokens"))
      .join(inVocab, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_in_vocab"), lit(0L))).as("n_oov"),
        round((col("n_tokens") - coalesce(col("n_in_vocab"), lit(0L))).cast("double")
          / col("n_tokens"), 6).as("oov_rate"))
  }

  /** CCNet-style unigram-LM perplexity bucketing (Wenzek et al. 2020:
    * score each document under a language model trained on the corpus,
    * then split the corpus into head/middle/tail thirds by perplexity —
    * the standard pre-filter that routes fluent text to training and
    * gibberish to review). The LM here is the add-one-smoothed unigram
    * model of the corpus itself; `bits` is the mean negative log2
    * probability per token (perplexity = 2^bits, monotone — bucketing on
    * either is identical).
    *
    * Engine-determinism: the per-document sum quantizes each token-type
    * term to 1/65536 bits BEFORE accumulating (`round(tf·-log2(p)·2^16)`
    * as BIGINT), so the reduction is associative integer addition — the
    * float summation order of a groupBy can never flip a bucket — and the
    * oracle replays it term-for-term. Bucketing avoids a global row sort:
    * docs aggregate into a milli-bits histogram (bounded cardinality —
    * scores live in a few thousand 0.001-bit cells no matter the corpus
    * size), the two cut values come from a running sum over that tiny
    * frame, and docs bucket by value against the broadcast thresholds.
    * Ties at a cut keep all their docs on the low side, so `head` is the
    * largest value-closed prefix with ≤ ⌈n/3⌉ docs (at 100 TB this is the
    * same shape as approximate-quantile thresholding, but exact).
    *
    * One corpus scan: the (doc, token, tf) aggregate is checkpointed and
    * feeds both the global token counts and the per-doc scoring join
    * (the `oovBySource` pattern).
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val cnt = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val st = cnt.agg(sum(col("cnt")).as("n_total"), count(lit(1)).as("v"))
    val scored = tf.join(cnt, Seq("token"))
      .crossJoin(broadcast(st))
      .withColumn("term_q",
        round(col("tf") * -log2((col("cnt") + lit(1L)).cast("double")
          / (col("n_total") + col("v")).cast("double")) * lit(65536.0), 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"), sum(col("term_q")).as("nll_q"))
      .withColumn("bits", col("nll_q").cast("double") / lit(65536.0) / col("n_tokens"))
      .withColumn("bits_m", floor(col("bits") * lit(1000.0)).cast("long"))
      .localCheckpoint() // feeds the histogram AND the final bucket join
    val hist = scored.groupBy(col("bits_m")).agg(count(lit(1)).as("c"))
    // the window is partition-less but runs over the HISTOGRAM (bounded
    // cardinality), never the doc table
    val cum = hist.withColumn("cum", sum(col("c")).over(
      Window.orderBy(col("bits_m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = scored.agg(count(lit(1)).as("n_docs"))
    val th = cum.crossJoin(broadcast(tot)).agg(
      max(when(col("cum") <= ceil(col("n_docs") / lit(3.0)), col("bits_m"))).as("t1"),
      max(when(col("cum") <= ceil(col("n_docs") * lit(2) / lit(3.0)), col("bits_m"))).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        when(col("bits_m") <= col("t1"), lit("head"))
          .when(col("bits_m") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Per-source data card (the "datasheets for datasets" rollup a corpus
    * release ships): docs, token mass, predicted-English share, exact-dup
    * incidence, and mean quality per source — the one-page view that
    * decides which sources get re-crawled, down-weighted, or dropped.
    *
    * One scan computes every per-doc metric into a checkpointed narrow
    * frame (source, tokens, quantized quality, predicted lang, content
    * hash); dup incidence joins that frame against its own hash
    * histogram (32-byte hashes shuffle, never text); the rollup groups
    * by source. Mean quality accumulates the ×10⁶-quantized per-doc
    * score in BIGINT — associative, so the groupBy's combine order can
    * never wobble the reported mean (the `perplexityBuckets` rule).
    */
  def dataCard(docs: DataFrame): DataFrame = {
    val t = tokenCount(col("text"))
    val stop = stopwordHits(col("text"), langStopwords.head._2)
    val awl = length(col("text")) / t
    val scores = langStopwords.map { case (l, w) => l -> stopwordHits(col("text"), w) }
    val perDoc = docs.select(
        col("source"), col("doc_id"),
        t.cast("long").as("n_toks"),
        round(qualityScore(t, stop, awl) * lit(1000000.0), 0).cast("long").as("q_q"),
        langPredict(scores).as("pred_lang"),
        Dedup.normHash(col("text")).as("h"))
      .localCheckpoint() // feeds the hash histogram AND the rollup
    val dupHashes = perDoc.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("h"), lit(1L).as("is_dup"))
    perDoc.join(dupHashes, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dups"),
        round(sum(col("q_q")).cast("double") / lit(1000000.0) / count(lit(1)), 6)
          .as("mean_quality"))
  }

  /** Exact per-source quality quantiles (p25/p50/p75) via the value
    * histogram: docs aggregate into (source, quantized-score) cells, a
    * window PARTITIONED BY SOURCE runs over the bounded histogram, and
    * each quantile is the smallest score whose cumulative count reaches
    * ⌈q·n⌉ (lower discrete quantile — pure integer logic, so both
    * engines agree on every tie). This is the scale pattern for exact
    * grouped quantiles: `percentile` over raw rows buffers a group's
    * values; the histogram is bounded by score cardinality (≤ 10⁶ cells
    * here) no matter how many documents a source has.
    */
  def qualityQuantilesBySource(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokenCount(col("text"))
    val stop = stopwordHits(col("text"), langStopwords.head._2)
    val awl = length(col("text")) / t
    val hist = docs
      .select(col("source"),
        round(qualityScore(t, stop, awl) * lit(1000000.0), 0).cast("long").as("q_q"))
      .groupBy(col("source"), col("q_q")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("q_q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    def pick(q: Double) =
      min(when(col("cum") >= ceil(col("n") * lit(q)), col("q_q"))) / lit(1000000.0)
    cum.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        pick(0.25).as("p25"), pick(0.5).as("p50"), pick(0.75).as("p75"))
  }

  /** Approximate grouped percentiles, gated EXACTLY (the pattern that
    * turned the HLL query hash-comparable): per source, the exact
    * p50/p90 of document length via the bounded value histogram, plus a
    * within-tolerance verdict for Spark's `percentile_approx` sketch.
    * The sketch's rank-error contract (≤ n/accuracy) converts to a
    * VALUE window by picking the histogram values at the slacked ranks
    * (±(⌈n/accuracy⌉+1), clamped); the flag asserts the approx landed
    * inside. The oracle gates the exact columns and the always-true
    * flags — the engine-specific estimate itself never hashes, but a
    * sketch drifting past its contract turns a flag false and fails the
    * gate. Scale: the histogram is bounded by distinct lengths, the
    * sketch state by accuracy — neither buffers a source's rows.
    */
  def lengthQuantilesApprox(docs: DataFrame, accuracy: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.select(col("source"), col("n_chars"))
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    def pickAt(rank: Column) = min(when(col("cum") >= rank, col("n_chars")))
    val slack = ceil(col("n") / lit(accuracy)) + lit(1)
    def exact(q: Double) = pickAt(ceil(col("n") * lit(q)))
    def lo(q: Double) = pickAt(greatest(ceil(col("n") * lit(q)) - slack, lit(1)))
    def hi(q: Double) = pickAt(least(ceil(col("n") * lit(q)) + slack, col("n")))
    val exacts = cum.groupBy(col("source")).agg(
      max(col("n")).as("n_docs"),
      exact(0.5).as("p50"), exact(0.9).as("p90"),
      lo(0.5).as("lo50"), hi(0.5).as("hi50"),
      lo(0.9).as("lo90"), hi(0.9).as("hi90"))
    val approx = docs.groupBy(col("source")).agg(
      percentile_approx(col("n_chars"), array(lit(0.5), lit(0.9)), lit(accuracy)).as("ap"))
    exacts.join(approx, Seq("source"))
      .select(col("source"), col("n_docs"), col("p50"), col("p90"),
        element_at(col("ap"), 1).between(col("lo50"), col("hi50")).as("p50_within"),
        element_at(col("ap"), 2).between(col("lo90"), col("hi90")).as("p90_within"))
      .orderBy(col("source"))
  }

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005): token
    * frequencies estimated through a depth×width counter sketch, reported
    * for the top-k tokens next to their exact counts — the bounded-memory
    * frequency primitive for streams/corpora whose vocabulary cannot be
    * held exactly. The cell draw is the engine's cross-engine hash (sha256
    * prefix → BIGINT, the `Corpus.hashBucket` construction), so the DuckDB
    * oracle replays the SKETCH itself — counters, collisions, min-over-rows
    * — not just the exact answer; all arithmetic is integer-exact.
    *
    * Scale shape: one scan aggregates token frequencies; the sketch is a
    * groupBy onto depth×width cells (a fixed-size table regardless of
    * corpus size, mergeable across partitions/batches by addition); the
    * estimate is a join back through the cells. Nothing scales with corpus
    * size except the initial token count.
    */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
                      depth: Int = 4, width: Int = 256, topK: Int = 20): DataFrame = {
    val tf = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds cells AND the exact-count report column
    val cells = tf
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("cell",
        conv(substring(sha2(concat(col("token"), lit(":cms:"), col("r").cast("string")), 256), 1, 15), 16, 10)
          .cast("long") % width)
    val counters = cells.groupBy(col("r"), col("cell")).agg(sum(col("tf")).as("counter"))
    val est = cells.join(counters, Seq("r", "cell"))
      .groupBy(col("token")).agg(min(col("counter")).as("est_count"))
    est.join(tf, Seq("token"))
      .select(col("token"), col("est_count"), col("tf").as("true_count"))
      .orderBy(col("est_count").desc, col("token"))
      .limit(topK)
  }

  /** Gopher-style quality rule ensemble (Rae et al. 2021, Table A1,
    * thresholds adapted to this corpus's single-line short docs): word
    * count bounds, mean-word-length band, minimum stopword evidence, and
    * a duplicate-token ceiling — each reported as its own flag plus the
    * conjunctive verdict, the shape a curation pipeline needs to audit
    * WHICH rule rejected a document, not just that one did. Pure
    * scan-speed column arithmetic: the whole ensemble runs inside
    * whole-stage codegen with no aggregation and no shuffle, so it
    * filters 100 TB at I/O speed.
    */
  val gopherStops = "\\b(the|a|and|of|to)\\b"

  def gopherFilter(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val n = size(toks)
    val awl = length(col(textCol)).cast("double") / n
    val dupFrac = lit(1.0) - size(array_distinct(toks)).cast("double") / n
    val stops = regexp_count(lower(col(textCol)), lit(gopherStops))
    val rLen = n >= 25 && n <= 1000
    val rAwl = awl.between(3.0, 10.0)
    val rStop = stops >= 2
    val rDup = dupFrac <= 0.6
    docs.select(col(idCol), n.cast("long").as("n_tokens"),
      rLen.cast("int").as("r_len"), rAwl.cast("int").as("r_awl"),
      rStop.cast("int").as("r_stop"), rDup.cast("int").as("r_dup"),
      (rLen && rAwl && rStop && rDup).cast("int").as("pass"))
  }

  /** Per-document PII incidence: match counts per type for the same
    * deliberately-portable patterns `Corpus.redactPii` scrubs — the
    * measurement half of the PII stage (incidence before, zero after;
    * TextAnalysisSpec asserts both on planted fixtures).
    */
  def piiReport(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        size(regexp_extract_all(col(textCol),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col(textCol),
          lit("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"), lit(0)))
          .cast("long").as("n_ssn"),
        size(regexp_extract_all(col(textCol),
          lit("\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"), lit(0)))
          .cast("long").as("n_phone"))
      .withColumn("n_pii", col("n_email") + col("n_ssn") + col("n_phone"))

  // ---- registered queries -------------------------------------------------

  /** Token counting over documents. */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_text"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        bpeishCount(col("text")).cast("long").as("n_bpeish"))
      .orderBy(col("doc_id"))

  /** Quality scoring over documents. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = tokenCount(col("text"))
    val stop = stopwordHits(col("text"), langStopwords.head._2)
    val punct = regexp_count(col("text"), lit("[.,!?;:]"))
    val awl = length(col("text")) / t
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        t.cast("long").as("n_tokens"),
        punct.cast("long").as("punct_count"),
        stop.cast("long").as("stop_count"),
        awl.as("avg_word_len"),
        qualityScore(t, stop, awl).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Language ID over documents (stopword-score heuristic). */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> stopwordHits(col("text"), words)
    }
    val scoreCols = scores.map { case (lang, c) => c.cast("long").as(s"score_$lang") }
    Tables.documents(spark, dir)
      .select(col("doc_id") +: scoreCols :+ langPredict(scores).as("pred_lang"): _*)
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprint per document (custom Catalyst expression). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        Fingerprints.rollingFingerprint(lower(trim(col("text"))), 16).as("fingerprint"))
      .orderBy(col("doc_id"))

  // Robust winnowing parameters: k-byte grams, w-gram windows — any
  // shared run of w+k-1 = 11 bytes is guaranteed a shared selected
  // fingerprint; selected density ~2/(w+1) of grams.
  private[graft] val WinnowK = 8
  private[graft] val WinnowW = 4
  // overlap report: fingerprints shared by more than DfCap docs are
  // boilerplate (the df-capped-inverted-index discipline containment
  // uses — caps pair generation); pairs need MinShared distinct shared
  // fingerprints AND containment ≥ MinOverlap of the smaller set to
  // surface — the synthetic corpus is heavily templated (without the
  // floor, half of ALL doc pairs report: median containment 0.07 from
  // shared boilerplate vs ≥ 0.5 for the planted partial dups).
  private[graft] val WinnowDfCap = 64
  private[graft] val WinnowMinShared = 4
  private[graft] val WinnowMinOverlap = 0.5

  /** [[graft.llm.Dedup.LshCandidateStats]] over the winnow postings the
    * overlap report df-caps: buckets are fingerprints, the cap is
    * `WinnowDfCap` — so `rawPairs` is the pair volume an UNCAPPED
    * fingerprint join would expand (the hot-fingerprint blow-up) and
    * `cappedPairs`/`pairBound` the df-cap's admitted volume and its
    * linear-in-postings guarantee.
    */
  def winnowCandidateStats(docs: DataFrame, textCol: String, idCol: String)
      : Dedup.LshCandidateStats =
    Dedup.candidateStatsOf(
      winnowPostings(docs, textCol, idCol, "doc_id"), Seq("fp"), WinnowDfCap)

  /** The distinct (id, fp) winnow postings every consumer joins on — ONE
    * definition, so the stats accounting, the overlap report, and the
    * probe path can never drift on the fp packing (v mod 2³²) or the
    * winnow parameters they all claim to share.
    */
  private[graft] def winnowPostings(docs: DataFrame, textCol: String,
                                    idCol: String, outId: String): DataFrame =
    docs
      .select(col(idCol).as(outId),
        explode(Fingerprints.winnowSet(lower(trim(col(textCol))), WinnowK, WinnowW)).as("v"))
      .select(col(outId), (col("v") % lit(4294967296L)).as("fp"))
      .distinct()

  /** The winnowed fingerprint SET per document (pos = 0-based gram
    * start): the at-rest artifact a MOSS-style overlap service indexes.
    */
  def winnowSelectQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(Fingerprints.winnowSet(lower(trim(col("text"))), WinnowK, WinnowW)).as("v"))
      .select(col("doc_id"),
        expr("v div 4294967296").as("pos"),
        (col("v") % lit(4294967296L)).as("fp"))
      .orderBy(col("doc_id"), col("pos"))

  /** Partial-overlap report over the winnowed sets: doc pairs sharing ≥
    * MinShared selected fingerprints, scored by containment of the
    * smaller set. The join runs on the SELECTED fingerprints only —
    * ~2/(w+1) of the gram index a full k-gram join would carry — and the
    * df cap bounds pair generation exactly like the containment query's
    * inverted index: pair count ≤ Σ_fp df² with df ≤ cap, linear in docs
    * at bounded boilerplate.
    *
    * Semantics at scale: the ABSOLUTE df cap means runs replicated
    * across more than DfCap documents never generate pairs — that is
    * cluster-scale duplication, deliberately excluded (expanding a
    * c-doc cluster into c²/2 pair rows is the quadratic blowup this
    * report exists to avoid) and owned by the dedup family
    * (minhash/simhash/clusters). The report's niche is PAIRWISE
    * verbatim overlap — plagiarism-style, MOSS's target. On corpora
    * whose duplication is all cluster-scale the report is correctly
    * empty (the synthetic sf0.1 corpus is such a corpus: its template
    * clusters grow with SF past any pairwise regime).
    */
  def winnowOverlap(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val (sel, plan) = winnowOverlapPlan(docs, textCol, idCol)
    // materialize the (tiny, above-threshold) report eagerly so the
    // winnow checkpoint can be released NOW — repeated invocations
    // (bench sweeps, timing loops) must not pin one block set per call
    // until GC happens to run (the streaming path's release
    // discipline, applied to the batch report)
    val out = plan.localCheckpoint()
    graft.store.Checkpoints.free(sel)
    out
  }

  /** The overlap report's LAZY plan plus the checkpointed postings frame
    * it reads — split out (the `winnowProbePlan` pattern) so plan
    * inspection (`graft.Profile`'s lazy plan forms, PlanInvariantsSpec)
    * can see the join shape the eager checkpoint in [[winnowOverlap]]
    * severs. Callers must release the first element with
    * `Checkpoints.free` after consuming the second.
    */
  private[graft] def winnowOverlapPlan(docs: DataFrame, textCol: String,
                                       idCol: String): (DataFrame, DataFrame) = {
    // one winnow scan, checkpointed: the (doc, fp) set feeds FOUR
    // consumers (set sizes, df counts, both join sides) — without the
    // checkpoint the document scan + expression run four times
    val sel = winnowPostings(docs, textCol, idCol, "doc_id").localCheckpoint()
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    // df gate FIRST, as a scalar count + semi-join, so the collect_list
    // below only ever aggregates fps already known to be ≤ DfCap: on a
    // heavily templated corpus a boilerplate fingerprint shared by c docs
    // would otherwise build a c-element buffer before being discarded —
    // the unbounded-in-c executor-memory hazard the cap exists to prevent
    // (Dedup's self-join form filters df the same way). One extra
    // hash-count shuffle of (fp, count) pairs; sel is checkpointed, so no
    // rescan of the documents.
    val rare = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, WinnowDfCap))
      .select(col("fp"))
    // pair generation as ONE data shuffle: group the df-gated postings
    // per fp into a doc list, then expand the ordered in-list
    // combinations with array lambdas. Identical pair multiset to the fp
    // self-join; half the exchanges.
    // shuffle_hash discipline on bounded build sides (the r18 dedup-family
    // fix, extended here after PlanDiag caught the same flip on THIS
    // query at 80×: all-broadcast at 40× → three SortMergeJoins at 80×
    // on static estimates). rare is a scalar fp list, sizes one row per
    // doc — both hash-buildable; AQE still broadcasts runtime-small sides
    val pairs = sel.join(rare.hint("shuffle_hash"), Seq("fp"), "left_semi")
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds"))), b =>
          struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
    val out = pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("nfp").as("nfp_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nfp").as("nfp_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") / least(col("nfp_a"), col("nfp_b")), 6)
          .as("overlap"))
      .filter(col("overlap") >= WinnowMinOverlap)
      .orderBy(col("id_a"), col("id_b"))
    (sel, out)
  }

  def winnowOverlapQuery(spark: SparkSession, dir: String): DataFrame =
    winnowOverlap(Tables.documents(spark, dir), "text", "doc_id")

  /** Probe an at-rest winnow postings table (built/maintained by
    * `MicroBatch.winnowIngestStream`) with a batch of query texts:
    * candidates = indexed docs sharing ≥ minShared selected
    * fingerprints with a query. Reads ONLY the band partitions the
    * queries' fingerprints hash into (partition-pruned — the banding
    * exists so a probe never lists the whole postings table), carries
    * (doc_id, fp) pairs through the join, never text.
    *
    * `dfCap` (Some(c)) drops index fingerprints held by more than c
    * documents before the join — the same boilerplate discipline as the
    * overlap report: a template fingerprint shared by thousands of docs
    * is non-discriminative AND multiplies join fan-out by its df. Probe
    * cost is then Σ_fp qdf·min(df,c) instead of Σ_fp qdf·df; a fp lives
    * entirely in one band (band = fp mod nBands), so the band-pruned df
    * IS the global df and the cap is exact under pruning.
    */
  def winnowProbe(spark: SparkSession, postingsDir: String, queries: DataFrame,
                  textCol: String, idCol: String, nBands: Int = 16,
                  minShared: Int = 2, dfCap: Option[Int] = None): DataFrame = {
    val (q, plan) = winnowProbePlan(spark, postingsDir, queries, textCol, idCol,
      nBands, minShared, dfCap)
    // candidate lists are minShared-floored and tiny relative to the
    // postings; materialize eagerly so the query-side checkpoint is
    // released per call instead of pinning blocks until GC (same
    // discipline as winnowOverlap / winnowIngestStream)
    val out = plan.localCheckpoint()
    graft.store.Checkpoints.free(q)
    out
  }

  /** The probe's LAZY plan plus the checkpointed query frame it reads —
    * split out so tests can assert the band partition pruning on the
    * REGISTERED path's plan (the eager checkpoint in `winnowProbe`
    * severs the scan from the returned frame). Callers must release the
    * first element with `Checkpoints.free` after consuming the second.
    */
  private[graft] def winnowProbePlan(
      spark: SparkSession, postingsDir: String, queries: DataFrame,
      textCol: String, idCol: String, nBands: Int,
      minShared: Int, dfCap: Option[Int] = None): (DataFrame, DataFrame) = {
    val q = winnowPostings(queries, textCol, idCol, "query_id")
      .withColumn("band", pmod(col("fp"), lit(nBands.toLong)))
      .localCheckpoint() // feeds the band prune list AND the join
    val hit = q.select(col("band")).distinct().collect().map(_.getLong(0))
    val postings = spark.read.parquet(postingsDir)
      .filter(col("band").isInCollection(hit.toIndexedSeq))
      .select(col("doc_id"), col("fp")).distinct()
    val pruned = dfCap.fold(postings) { cap =>
      // scalar (fp, df) shuffle BEFORE any doc-id fan-out — the same
      // gate order the overlap report uses. shuffle_hash on the scalar
      // fp list and on the (bounded-by-contract) query side below: the
      // same static-estimate broadcast→SMJ flip PlanDiag measured on
      // the overlap report at 80× hits this probe too
      val rare = postings.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("fp"))
      postings.join(rare.hint("shuffle_hash"), Seq("fp"), "left_semi")
    }
    val plan = q.hint("shuffle_hash").join(pruned, Seq("fp"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("query_id"), col("shared").desc, col("doc_id"))
    (q, plan)
  }

  // ---- winnowProbe through the oracle gate --------------------------------

  private[graft] val WinnowBands = 16L

  /** One postings build per (session, source dir, source fingerprint):
    * repeat invocations probe the already-written index, a rewritten
    * documents table rebuilds via the fingerprint.
    */
  private val winnowPostingsBuilt = new graft.store.SessionMemo[(String, Long), String](
    1, (_, root) => graft.store.ScratchDirs.release(root))

  private[graft] def winnowPostingsRoot(spark: SparkSession, dir: String): String =
    winnowPostingsBuilt.get(spark, (dir, graft.store.Snapshot.fingerprint(dir, "documents.parquet"))) {
      val root = graft.store.ScratchDirs.create("graft_winnow")
      // the index is built by the STREAM that maintains it in
      // production (`MicroBatch.winnowIngestStream`): documents land as
      // JSONL slices, micro-batches winnow them and append (doc_id,
      // pos, fp) postings partitioned by band = fp mod nBands. Postings
      // are a pure per-document function and the replay guard is
      // per-doc, so the at-rest table is batching-invariant — which is
      // what lets llm_winnow_probe's oracle gate the streaming
      // maintenance path, not just the probe
      val landing = java.nio.file.Paths.get(root, "landing")
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .repartition(4, pmod(col("doc_id"), lit(4L)))
        .write.json(landing.toString) // writer creates the dir itself
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.stream.MicroBatch.runToCompletion(
        graft.stream.MicroBatch.winnowIngestStream(
          spark, landing.toString, schema, s"$root/postings",
          s"$root/ckpt", nBands = WinnowBands.toInt))
      root
    }

  /** `winnowProbe` through the CORRECTNESS gate: build the banded at-rest
    * postings index over the documents table (memoized per session ×
    * source fingerprint), probe it with a fixed deterministic query set
    * (doc_id ≡ 7 mod 25 — ~4% of the corpus), candidates = docs sharing
    * ≥ MinShared RARE (df ≤ DfCap) selected fingerprints. The oracle
    * replays the same winnowing chain declaratively and joins query fps
    * against the df-capped fingerprint table — banding is pruning
    * plumbing, never semantics, so a green hash proves the partitioned
    * index + band-pruned, df-capped probe return exactly what the
    * unpartitioned join would.
    */
  def winnowProbeQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = winnowPostingsRoot(spark, dir)
    val queries = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(25L)) === 7)
    winnowProbe(spark, s"$root/postings", queries, "text", "doc_id",
      nBands = WinnowBands.toInt, minShared = WinnowMinShared,
      dfCap = Some(WinnowDfCap))
  }

  /** Token-length histogram: docs bucketed by token count (curation view). */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((floor(tokenCount(col("text")) / 16) * 16).cast("long").as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket_lo"))

  /** Exact token-length quantiles (percentile is exact-interpolated, so it
    * reproduces DuckDB's quantile_cont bit-for-bit on the same input).
    */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(tokenCount(col("text")).cast("double").as("n"))
      .agg(
        expr("percentile(n, 0.25)").as("p25"),
        expr("percentile(n, 0.5)").as("p50"),
        expr("percentile(n, 0.75)").as("p75"),
        expr("percentile(n, 0.95)").as("p95"))

  /** TF-IDF-style top terms per document. The ranking weight is
    * tf·(N+1)/(df+1) — the same ordering as smoothed log-idf but computed
    * with exact integer-derived doubles, so the ranking (and the oracle
    * compare) is engine-deterministic; ln differs in the last ulp between
    * libm implementations.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Language-ID evaluation: confusion counts of labeled vs predicted
    * language (the eval half of the langid workflow).
    */
  def langidEval(spark: SparkSession, dir: String): DataFrame = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> stopwordHits(col("text"), words)
    }
    Tables.documents(spark, dir)
      .withColumn("pred_lang", langPredict(scores))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Unigram commonness over documents. */
  def unigramQuery(spark: SparkSession, dir: String): DataFrame =
    unigramCommonness(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  private val VocabTopN = 50

  /** Vocabulary coverage over documents. */
  def vocabQuery(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir), "text", VocabTopN)
      .orderBy(col("rank"))

  /** PII incidence over documents. */
  def piiReportQuery(spark: SparkSession, dir: String): DataFrame =
    piiReport(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  private val OovVocabN = 20 // < the corpus's 31 types → real OOV mass

  /** OOV mass per source under the top-N vocab. */
  def oovQuery(spark: SparkSession, dir: String): DataFrame =
    oovBySource(Tables.documents(spark, dir), "text", "source", OovVocabN)
      .orderBy(col("source"))

  /** Gopher rule ensemble over documents. */
  def gopherQuery(spark: SparkSession, dir: String): DataFrame =
    gopherFilter(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** CMS heavy hitters over document tokens. */
  def cmsQuery(spark: SparkSession, dir: String): DataFrame =
    cmsHeavyHitters(Tables.documents(spark, dir), "text")

  /** Perplexity head/middle/tail bucketing over documents. */
  def perplexityQuery(spark: SparkSession, dir: String): DataFrame =
    perplexityBuckets(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy(col("doc_id"))

  /** Per-source data card over documents. */
  def dataCardQuery(spark: SparkSession, dir: String): DataFrame =
    dataCard(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Exact grouped quality quantiles over documents. */
  def qualityQuantilesQuery(spark: SparkSession, dir: String): DataFrame =
    qualityQuantilesBySource(Tables.documents(spark, dir)).orderBy(col("source"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_vocab_coverage" -> (vocabQuery _),
    "llm_vocab_oov" -> (oovQuery _),
    "llm_pii_report" -> (piiReportQuery _),
    "llm_unigram_common" -> (unigramQuery _),
    "llm_langid_eval" -> (langidEval _),
    "llm_tfidf_top_terms" -> (topTerms _),
    "llm_length_histogram" -> (lengthHistogram _),
    "llm_length_quantiles" -> (lengthQuantiles _),
    "llm_text_tokens" -> (tokens _),
    "llm_text_quality" -> (quality _),
    "llm_text_langid" -> (langid _),
    "llm_fingerprint" -> (fingerprint _),
    "llm_winnow_select" -> (winnowSelectQuery _),
    "llm_winnow_overlap" -> (winnowOverlapQuery _),
    "llm_winnow_probe" -> (winnowProbeQuery _),
    "llm_gopher_filter" -> (gopherQuery _),
    "llm_heavy_hitters_cms" -> (cmsQuery _),
    "llm_perplexity" -> (perplexityQuery _),
    "llm_data_card" -> (dataCardQuery _),
    "llm_quality_quantiles" -> (qualityQuantilesQuery _),
    "llm_length_quantiles_approx" -> ((s: SparkSession, dir: String) =>
      lengthQuantilesApprox(Tables.documents(s, dir))),
    "llm_repetition" -> ((s: SparkSession, dir: String) =>
      repetition(Tables.documents(s, dir), "text", "doc_id").orderBy(col("doc_id"))))

  private val stopEn = "\\b(the|and|is|of|to)\\b"

  private val predLangSql =
    """CASE
      |    WHEN len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
      |     AND len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b'))
      |     AND len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'en'
      |    WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b'))
      |     AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'de'
      |    WHEN len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'es'
      |    ELSE 'fr' END""".stripMargin

  // 257^k mod 2^61-1 for k=0..15: the power table of RollingFingerprint's
  // Karp-Rabin hash, embedded as HUGEINT literals so DuckDB replays the
  // rolling-window minimum bit-for-bit (each window hash is a 16-term
  // polynomial; terms < 2^69 and their sum < 2^73 fit HUGEINT exactly, so
  // one final % equals the expression's stepwise modular arithmetic)
  private val fpPows: String = (0 until 16)
    .map(k => BigInt(257).modPow(BigInt(k), (BigInt(1) << 61) - 1))
    .map(p => s"${p}::HUGEINT").mkString("[", ",", "]")

  /** 257^k mod 2^61-1 for k=0..7 — the WinnowSet gram hash's power table. */
  private val winPows: String = (0 until WinnowK)
    .map(k => BigInt(257).modPow(BigInt(k), (BigInt(1) << 61) - 1))
    .map(p => s"${p}::HUGEINT").mkString("[", ",", "]")

  /** Shared winnowing replay: gram hashes (base-257 mod 2^61-1, then the
    * three-round squaring mixer — the simhash oracle's proven HUGEINT
    * chain — truncated mod 2^32), per-window rightmost-min selection via
    * list lambdas, DISTINCT per (doc, pos) ≡ the expression's
    * consecutive-dedup (selection runs per position are contiguous).
    */
  private def winnowCte: String =
    s"""t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
       |g AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) - ${WinnowK - 1} AS n
       |      FROM t WHERE length(s) >= $WinnowK),
       |pos AS (SELECT doc_id, n, s, unnest(range(0, n)) AS p FROM g),
       |h0 AS (SELECT doc_id, n, p, list_sum(list_transform(range(0, $WinnowK), j ->
       |        CAST(ascii(substr(s, CAST(p + j + 1 AS INTEGER), 1)) AS HUGEINT)
       |          * ($winPows)[$WinnowK - j])) % 2305843009213693951 AS h FROM pos),
       |h1 AS (SELECT doc_id, n, p, (h * h + 2177342782468422681) % 2305843009213693951 AS h FROM h0),
       |h2 AS (SELECT doc_id, n, p, (h * h + 194409311614856021) % 2305843009213693951 AS h FROM h1),
       |hf AS (SELECT doc_id, n, p,
       |        CAST(((h * h + 1609587929392839161) % 2305843009213693951) % 4294967296 AS BIGINT) AS fp
       |       FROM h2),
       |ls AS (SELECT doc_id, least($WinnowW, n) AS ws, n, list(fp ORDER BY p) AS hs
       |       FROM hf GROUP BY doc_id, n),
       |wins AS (SELECT doc_id, ws, unnest(list_transform(range(0, n - ws + 1), i ->
       |          {'i': i, 'sl': hs[(i+1):(i+ws)]})) AS w FROM ls),
       |mins AS (SELECT doc_id, w.i AS i, ws, list_min(w.sl) AS mn,
       |          list_position(list_reverse(w.sl), list_min(w.sl)) AS rp FROM wins),
       |selrows AS (SELECT DISTINCT doc_id, CAST(i + ws - rp AS BIGINT) AS pos,
       |             CAST(mn AS BIGINT) AS fp FROM mins)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the oracle replays the sketch itself — cell draws, counters,
    // collisions, min-over-rows — in exact integers
    "llm_heavy_hitters_cms" ->
      """WITH tf AS MATERIALIZED (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY token),
        |cells AS MATERIALIZED (
        |  SELECT token, tf, r,
        |    CAST(CONCAT('0x', substr(sha256(token || ':cms:' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS cell
        |  FROM tf, UNNEST([0, 1, 2, 3]) AS u(r)),
        |counters AS (SELECT r, cell, SUM(tf) AS counter FROM cells GROUP BY r, cell),
        |est AS (SELECT c.token, MIN(ct.counter) AS est_count
        |        FROM cells c JOIN counters ct ON c.r = ct.r AND c.cell = ct.cell
        |        GROUP BY c.token)
        |SELECT e.token, CAST(e.est_count AS BIGINT) AS est_count, t.tf AS true_count
        |FROM est e JOIN tf t USING (token)
        |ORDER BY est_count DESC, token LIMIT 20""".stripMargin,
    // replays the quantized-term accumulation: every per-type term is
    // rounded to 1/65536 bits BEFORE summing, so both engines add the
    // same BIGINTs in any order; bucketing runs on the milli-bits
    // histogram with a value-closed head (ties stay low), never a row sort
    "llm_perplexity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |cnt AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS v FROM cnt),
        |d AS MATERIALIZED (
        |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(round(tf.tf * (-log2(CAST(cnt.cnt + 1 AS DOUBLE)
        |      / CAST(st.n_total + st.v AS DOUBLE))) * 65536.0, 0) AS BIGINT)) AS BIGINT) AS nll_q
        |  FROM tf JOIN cnt USING (token) CROSS JOIN st GROUP BY 1),
        |s AS MATERIALIZED (
        |  SELECT doc_id, n_tokens,
        |    CAST(nll_q AS DOUBLE) / 65536.0 / n_tokens AS bits,
        |    CAST(floor(CAST(nll_q AS DOUBLE) / 65536.0 / n_tokens * 1000.0) AS BIGINT) AS bits_m
        |  FROM d),
        |h AS (SELECT bits_m, COUNT(*) AS c FROM s GROUP BY 1),
        |cum AS (SELECT bits_m, SUM(c) OVER (ORDER BY bits_m) AS cum FROM h),
        |tot AS (SELECT COUNT(*) AS n_docs FROM s),
        |th AS (SELECT MAX(CASE WHEN cum <= ceil(n_docs / 3.0) THEN bits_m END) AS t1,
        |              MAX(CASE WHEN cum <= ceil(n_docs * 2 / 3.0) THEN bits_m END) AS t2
        |       FROM cum CROSS JOIN tot)
        |SELECT s.doc_id, s.n_tokens, s.bits,
        |  CASE WHEN s.bits_m <= th.t1 THEN 'head'
        |       WHEN s.bits_m <= th.t2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM s CROSS JOIN th ORDER BY s.doc_id""".stripMargin,
    // exact columns via the same histogram rule; the within flags are
    // literally true — the engine's percentile_approx must land inside
    // its own rank-error contract or the hash breaks
    "llm_length_quantiles_approx" ->
      """WITH h AS (SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (SELECT *,
        |          SUM(c) OVER (PARTITION BY source ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum,
        |          SUM(c) OVER (PARTITION BY source) AS n
        |        FROM h)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  CAST(MIN(CASE WHEN cum >= CEIL(n * 0.5) THEN n_chars END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum >= CEIL(n * 0.9) THEN n_chars END) AS BIGINT) AS p90,
        |  true AS p50_within, true AS p90_within
        |FROM cum GROUP BY source ORDER BY source""".stripMargin,
    // the identical histogram construction: smallest quantized score whose
    // per-source cumulative count reaches ceil(q*n) — integer logic only
    "llm_quality_quantiles" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(round((0.4 * least(1.0, len(regexp_split_to_array(trim(text), '\\s+')) / 100.0)
         |      + 0.3 * least(1.0, len(regexp_extract_all(lower(text), '$stopEn')) * 10.0 / len(regexp_split_to_array(trim(text), '\\s+')))
         |      + 0.3 * (CASE WHEN (length(text) / len(regexp_split_to_array(trim(text), '\\s+'))) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)) * 1000000.0, 0) AS BIGINT) AS q_q
         |  FROM documents),
         |h AS (SELECT source, q_q, COUNT(*) AS c FROM d GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, q_q, c,
         |    SUM(c) OVER (PARTITION BY source ORDER BY q_q) AS cum,
         |    SUM(c) OVER (PARTITION BY source) AS n
         |  FROM h)
         |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         |  MIN(CASE WHEN cum >= ceil(n * 0.25) THEN q_q END) / 1000000.0 AS p25,
         |  MIN(CASE WHEN cum >= ceil(n * 0.5) THEN q_q END) / 1000000.0 AS p50,
         |  MIN(CASE WHEN cum >= ceil(n * 0.75) THEN q_q END) / 1000000.0 AS p75
         |FROM cum GROUP BY source ORDER BY source""".stripMargin,
    // the same quality/langid replicas llm_text_quality / llm_text_langid
    // prove, quantized ×10⁶ into BIGINT before the per-source mean
    "llm_data_card" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks,
         |    CAST(round((0.4 * least(1.0, len(regexp_split_to_array(trim(text), '\\s+')) / 100.0)
         |      + 0.3 * least(1.0, len(regexp_extract_all(lower(text), '$stopEn')) * 10.0 / len(regexp_split_to_array(trim(text), '\\s+')))
         |      + 0.3 * (CASE WHEN (length(text) / len(regexp_split_to_array(trim(text), '\\s+'))) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)) * 1000000.0, 0) AS BIGINT) AS q_q,
         |    $predLangSql AS pred_lang,
         |    sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
         |  FROM documents),
         |dup AS (SELECT h FROM d GROUP BY h HAVING COUNT(*) > 1)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN d.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  round(CAST(SUM(d.q_q) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean_quality
         |FROM d LEFT JOIN dup USING (h)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // every flag is a comparison over values both engines compute with the
    // SAME IEEE operations (one division, one subtraction), so boundary
    // cases agree bit-for-bit
    "llm_gopher_filter" ->
      """WITH m AS MATERIALIZED (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n,
        |    CAST(length(text) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS awl,
        |    1.0 - CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
        |      / len(string_split_regex(lower(trim(text)), '\s+')) AS dup_frac,
        |    len(regexp_extract_all(lower(text), '\b(the|a|and|of|to)\b')) AS stops
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n >= 25 AND n <= 1000 AS INT) AS r_len,
        |  CAST(awl BETWEEN 3.0 AND 10.0 AS INT) AS r_awl,
        |  CAST(stops >= 2 AS INT) AS r_stop,
        |  CAST(dup_frac <= 0.6 AS INT) AS r_dup,
        |  CAST(n >= 25 AND n <= 1000 AND awl BETWEEN 3.0 AND 10.0
        |       AND stops >= 2 AND dup_frac <= 0.6 AS INT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // integer counts + prefix sums; the one division happens once per
    // output row (deterministic), then rounds identically
    "llm_vocab_coverage" ->
      s"""WITH t AS (
         |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |  FROM documents),
         |c AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM t WHERE token <> '' GROUP BY token),
         |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM c),
         |r AS (
         |  SELECT token, freq,
         |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INTEGER) AS rank,
         |    CAST(SUM(freq) OVER (ORDER BY freq DESC, token
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq
         |  FROM c)
         |SELECT rank, token, freq,
         |  ROUND(CAST(cum_freq AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
         |FROM r, tot WHERE rank <= $VocabTopN ORDER BY rank""".stripMargin,
    // top-N vocab as a CTE, then per-source token mass vs in-vocab mass
    "llm_vocab_oov" ->
      s"""WITH t AS (
         |  SELECT source,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
         |  FROM documents),
         |tt AS (SELECT source, token FROM t WHERE token <> ''),
         |v AS (
         |  SELECT token FROM (
         |    SELECT token, COUNT(*) AS freq FROM tt GROUP BY token)
         |  ORDER BY freq DESC, token LIMIT $OovVocabN),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tt GROUP BY source),
         |iv AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in_vocab
         |  FROM tt WHERE token IN (SELECT token FROM v) GROUP BY source)
         |SELECT tot.source, tot.n_tokens,
         |  CAST(tot.n_tokens - coalesce(iv.n_in_vocab, 0) AS BIGINT) AS n_oov,
         |  ROUND(CAST(tot.n_tokens - coalesce(iv.n_in_vocab, 0) AS DOUBLE)
         |    / tot.n_tokens, 6) AS oov_rate
         |FROM tot LEFT JOIN iv USING (source)
         |ORDER BY source""".stripMargin,
    // same portable patterns as llm_pii_redact, counted instead of scrubbed
    "llm_pii_report" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |     + len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_pii
        |FROM documents ORDER BY doc_id""".stripMargin,
    // integer-exact until the single final division (deterministic): tf
    // and df are counts, sum(tf*df) stays in BIGINT range
    "llm_unigram_common" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id,
        |  CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(tf.tf * dfreq.df) AS BIGINT) AS sum_df,
        |  CAST(SUM(tf.tf * dfreq.df) AS DOUBLE)
        |    / CAST(SUM(tf.tf) * (SELECT n_docs FROM n) AS DOUBLE) AS commonness
        |FROM tf JOIN dfreq USING (tok)
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,
    "llm_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
        |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
        |tb AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM bc GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac,
        |  CAST(tb.top_c AS DOUBLE) / tb.n_bg AS top_bigram_frac
        |FROM t LEFT JOIN tb USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact replica of RollingFingerprint(lower(trim(text)), 16): windows
    // of we = min(len, 16) bytes (ASCII corpus — asserted in
    // MultimodalSpec — so chars == bytes), hash = sum byte*257^(we-1-j)
    // mod 2^61-1, fingerprint = min over windows; empty text -> 0
    "llm_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
         |base AS (SELECT doc_id, s, least(greatest(length(s), 1), 16) AS we FROM t),
         |pos AS (SELECT doc_id, s, we, unnest(range(1, length(s) - we + 2)) AS p
         |        FROM base WHERE length(s) > 0),
         |h AS (SELECT doc_id, list_sum(list_transform(range(0, we), j ->
         |        CAST(ascii(substr(s, CAST(p + j AS INTEGER), 1)) AS HUGEINT) * ($fpPows)[we - j]))
         |        % 2305843009213693951 AS hh FROM pos),
         |fp AS (SELECT doc_id, CAST(min(hh) AS BIGINT) AS fingerprint FROM h GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(fp.fingerprint, 0) AS fingerprint
         |FROM t LEFT JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin,
    "llm_winnow_select" ->
      s"""WITH $winnowCte
         |SELECT doc_id, pos, fp FROM selrows ORDER BY doc_id, pos""".stripMargin,
    "llm_winnow_overlap" ->
      s"""WITH $winnowCte,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM selrows),
         |sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM dfp GROUP BY 1),
         |rare AS (SELECT fp FROM dfp GROUP BY fp
         |         HAVING COUNT(*) BETWEEN 2 AND $WinnowDfCap),
         |r AS (SELECT d.doc_id, d.fp FROM dfp d JOIN rare USING (fp)),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(COUNT(*) AS BIGINT) AS shared
         |       FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared)
         |SELECT pr.id_a, pr.id_b, pr.shared,
         |  round(CAST(pr.shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) AS overlap
         |FROM pr
         |JOIN sizes sa ON sa.doc_id = pr.id_a
         |JOIN sizes sb ON sb.doc_id = pr.id_b
         |WHERE round(CAST(pr.shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) >= $WinnowMinOverlap
         |ORDER BY id_a, id_b""".stripMargin,
    // query fps join the df-capped fingerprint table WITHOUT banding:
    // the bands are partition-pruning plumbing on the engine side,
    // semantics-free; the df cap (index fps held by ≤ DfCap docs) is
    // semantics, so it appears on both sides
    "llm_winnow_probe" ->
      s"""WITH $winnowCte,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM selrows),
         |rare AS (SELECT fp FROM dfp GROUP BY fp HAVING COUNT(*) <= $WinnowDfCap),
         |r AS (SELECT d.doc_id, d.fp FROM dfp d JOIN rare USING (fp)),
         |q AS (SELECT doc_id AS query_id, fp FROM dfp WHERE doc_id % 25 = 7)
         |SELECT q.query_id, r.doc_id, CAST(COUNT(*) AS BIGINT) AS shared
         |FROM q JOIN r USING (fp)
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY query_id, shared DESC, doc_id""".stripMargin,
    "llm_langid_eval" ->
      s"""SELECT lang, $predLangSql AS pred_lang, COUNT(*) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "llm_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, rank, term, score FROM (
        |  SELECT doc_id, term, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "llm_length_histogram" ->
      """SELECT CAST(FLOOR(len(regexp_split_to_array(trim(text), '\s+')) / 16) * 16 AS BIGINT) AS bucket_lo,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "llm_length_quantiles" ->
      """SELECT
        |  quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.25) AS p25,
        |  quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.5) AS p50,
        |  quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.75) AS p75,
        |  quantile_cont(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 0.95) AS p95
        |FROM documents""".stripMargin,
    "llm_text_tokens" ->
      """SELECT doc_id, length(text) AS n_chars_text,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_text_quality" ->
      s"""SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,!?;:]')) AS punct_count,
         |  len(regexp_extract_all(lower(text), '$stopEn')) AS stop_count,
         |  length(text) / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_word_len,
         |  0.4 * least(1.0, len(regexp_split_to_array(trim(text), '\\s+')) / 100.0)
         |  + 0.3 * least(1.0, len(regexp_extract_all(lower(text), '$stopEn')) * 10.0 / len(regexp_split_to_array(trim(text), '\\s+')))
         |  + 0.3 * (CASE WHEN (length(text) / len(regexp_split_to_array(trim(text), '\\s+'))) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_text_langid" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS score_en,
        |  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS score_de,
        |  len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) AS score_es,
        |  len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) AS score_fr,
        |  CASE
        |    WHEN len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
        |     AND len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b'))
        |     AND len(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'en'
        |    WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b'))
        |     AND len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'de'
        |    WHEN len(regexp_extract_all(lower(text), '\b(el|los|las|es|y)\b')) >= len(regexp_extract_all(lower(text), '\b(le|les|des|est|et)\b')) THEN 'es'
        |    ELSE 'fr' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin)
}
