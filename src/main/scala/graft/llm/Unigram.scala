package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables

/** Unigram-LM subword tokenizer training — the OTHER trained-tokenizer
  * family real pipelines ship next to BPE (Kudo 2018, "Subword
  * Regularization"; the SentencePiece unigram model — public method).
  * Reference anchor: the reference repo tokenizes with managed-service
  * defaults; this is the from-scratch Spark-first construction, same
  * class as [[Bpe]] (r19 verdict #6).
  *
  * Shape of the trainer (one hard-EM round, then prune):
  *   1. SEED: every ≤ `MaxPieceLen`-codepoint substring of every corpus
  *      word, counted per occurrence position and weighted by word
  *      frequency — a distributed explode + groupBy (the only
  *      corpus-sized work). Single-codepoint pieces are always kept
  *      (they guarantee coverage); longer pieces need
  *      `MinSeedCount` weighted occurrences.
  *   2. E-STEP (Viterbi, the "hard" in hard-EM): segment every DISTINCT
  *      word under the seed unigram probabilities p0 = cnt/ΣCnt and
  *      recount piece usage from the best paths — a scan-speed custom
  *      expression over the distinct-word table (the [[BpeApplyMerges]]
  *      class of kernel), so the E-step is distributed too.
  *   3. M-STEP + PRUNE: the final vocabulary is all single-codepoint
  *      pieces plus the top `VocabMulti` multi-codepoint pieces by
  *      (usage desc, piece UTF-8 asc) — SentencePiece's
  *      keep-the-pieces-the-model-actually-uses pruning collapsed to
  *      one deterministic round.
  * Encoding then segments with p1 = (usage+1)/(ΣUsage+|V|) — add-one
  * smoothing keeps every retained piece reachable (a pruned-to-zero
  * single char must still be usable, or coverage breaks).
  *
  * Determinism (the property the DuckDB oracle rides): every quantity is
  * either an exact integer count or a product/quotient of doubles —
  * IEEE-exact operations that replay bit-for-bit on any engine, unlike
  * the log-domain scores real SentencePiece uses (ln() differs in the
  * last ulp across libm implementations; a product of probabilities is
  * the same number everywhere, and a word short enough to tokenize
  * cannot underflow it meaningfully — ties, including underflow-to-zero
  * ties, break deterministically). The Viterbi argmax orders candidates
  * by (probability desc, piece count asc, split point asc); the oracle's
  * QUALIFY replays exactly that.
  *
  * Scale shape: corpus touched once (seed counts) plus one distinct-word
  * scan (E-step); the trainer's driver artifacts are the seed table and
  * the vocabulary — both vocabulary-class, bounded by `MaxLocalSeed`
  * with an enforced refusal above it (the [[Bpe.train]] MaxLocalVocab
  * discipline; the join-unrolled DP the oracle runs IS the shape a
  * cluster-rounds fallback would take, not needed below the bound).
  */
object Unigram {

  /** One vocabulary entry: the piece and its E-step usage count. */
  final case class Piece(piece: String, usage: Long)

  /** Longest candidate piece, in code points. */
  private[llm] val MaxPieceLen = 4

  /** Weighted-occurrence floor for multi-codepoint seed candidates. */
  private[llm] val MinSeedCount = 2L

  /** Multi-codepoint pieces retained after pruning. */
  private[llm] val VocabMulti = 48

  /** Driver-artifact ceiling for the collected seed table (the
    * [[Bpe]] MaxLocalVocab class): above it the trainer REFUSES with
    * the remedy in the message rather than silently OOMing the driver.
    */
  private val MaxLocalSeed = 2000000L

  /** Unsigned UTF-8 byte comparison — UTF8String/DuckDB string order
    * (NOT java.lang.String's UTF-16 order; they differ above the BMP).
    */
  private def utf8Lt(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Viterbi segmentation under `probs`: maximize the probability
    * PRODUCT over pieces, ties to fewer pieces, then to the smaller
    * split point (= longest final piece) position-wise. Returns the
    * best path's pieces in order. Throws when the vocabulary cannot
    * cover the word — impossible for corpus words (single codepoints
    * are never pruned), the documented contract for unseen text.
    */
  private[graft] def viterbiPath(word: String, probs: collection.Map[String, Double],
                               maxLen: Int): Array[String] = {
    val syms = Bpe.toSymbols(word)
    val L = syms.length
    if (L == 0) return Array.empty
    val v = new Array[Double](L + 1)
    val n = new Array[Int](L + 1)
    val bj = new Array[Int](L + 1)
    val bp = new Array[String](L + 1)
    val ok = new Array[Boolean](L + 1)
    v(0) = 1.0
    ok(0) = true
    var pos = 1
    while (pos <= L) {
      var j = math.max(0, pos - maxLen)
      while (j < pos) {
        if (ok(j)) {
          val piece = syms.slice(j, pos).mkString
          val p = probs.getOrElse(piece, -1.0)
          if (p >= 0.0) {
            val cand = v(j) * p
            val cn = n(j) + 1
            // j ascends, so on full ties the FIRST (smallest-j) holder
            // keeps the slot — the `j < bj` arm documents the ordering
            val better = !ok(pos) || cand > v(pos) ||
              (cand == v(pos) && (cn < n(pos) || (cn == n(pos) && j < bj(pos))))
            if (better) {
              ok(pos) = true; v(pos) = cand; n(pos) = cn; bj(pos) = j; bp(pos) = piece
            }
          }
        }
        j += 1
      }
      pos += 1
    }
    require(ok(L), s"unigram vocabulary cannot cover word: $word")
    val out = new Array[String](n(L))
    var p2 = L
    var i = n(L) - 1
    while (p2 > 0) { out(i) = bp(p2); p2 = bj(p2); i -= 1 }
    out
  }

  /** Seed candidates with weighted occurrence counts — distributed:
    * one substring explode over the distinct-word table, occurrences
    * counted PER POSITION (a piece appearing twice in one word counts
    * twice, weighted by the word's corpus frequency).
    */
  def seedCounts(docs: DataFrame, textCol: String): DataFrame =
    seedCountsOf(Bpe.wordCounts(docs, textCol))

  /** Seed counting over an existing (word, freq) frame — lets [[train]]
    * feed its checkpointed word counts instead of re-running the corpus
    * word-count shuffle a second time (r20, guide §2.4).
    */
  private def seedCountsOf(wc: DataFrame): DataFrame =
    wc
      .select(col("freq"), explode(UnigramExprs.substrings(col("word"), MaxPieceLen)).as("s"))
      .groupBy(col("s.piece").as("piece"), col("s.cp").as("cp"))
      .agg(sum(col("freq")).as("cnt"))
      .filter(col("cp") === 1 || col("cnt") >= MinSeedCount)

  /** Train the unigram vocabulary (see the object doc for the round
    * structure). Returns the final vocabulary: every single-codepoint
    * piece (usage may be 0) plus the top `VocabMulti` multi-codepoint
    * pieces by (usage desc, piece UTF-8 asc).
    */
  def train(docs: DataFrame, textCol: String): Seq[Piece] = {
    // lazy: the seed checkpoint below is the materializing pass, so the
    // corpus word-count shuffle runs ONCE for both consumers (was twice —
    // seedCounts re-derived it from docs)
    val wc = Bpe.wordCounts(docs, textCol).localCheckpoint(false)
    try {
      val seeds = seedCountsOf(wc)
        .localCheckpoint()
      try {
        val nSeeds = seeds.count()
        require(nSeeds <= MaxLocalSeed,
          s"seed table has $nSeeds candidates > $MaxLocalSeed driver bound — " +
            "raise MinSeedCount / lower MaxPieceLen, or add cluster rounds " +
            "(the oracle's join-unrolled DP is the shape)")
        val seedArr = seeds.select(col("piece"), col("cp"), col("cnt"))
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        val t0 = seedArr.map(_._3).sum.toDouble
        val p0: Map[String, Double] = seedArr.map { case (p, _, c) => p -> c / t0 }.toMap
        // E-step, distributed: best-path pieces per distinct word, usage
        // summed with the words' corpus frequencies (vocabulary-sized out)
        val usage: Map[String, Long] = wc
          .select(col("freq"), explode(UnigramExprs.viterbi(col("word"), p0, MaxPieceLen)).as("piece"))
          .groupBy(col("piece")).agg(sum(col("freq")).as("usage"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val chars = seedArr.filter(_._2 == 1).map(_._1)
          .map(p => Piece(p, usage.getOrElse(p, 0L)))
        val multi = usage.toSeq
          .filter { case (p, _) => !chars.exists(_.piece == p) }
          .sortWith { case ((pa, ua), (pb, ub)) => ua > ub || (ua == ub && utf8Lt(pa, pb)) }
          .take(VocabMulti)
          .map { case (p, u) => Piece(p, u) }
        (chars ++ multi).sortWith((a, b) => utf8Lt(a.piece, b.piece))
      } finally graft.store.Checkpoints.free(seeds)
    } finally graft.store.Checkpoints.free(wc)
  }

  /** Subword segmentation of a word column under the trained vocabulary
    * (add-one smoothed probabilities — see the object doc) as one
    * scan-speed expression: the actual tokenizer.
    */
  def encode(word: Column, vocab: Seq[Piece]): Column = {
    val t1 = vocab.map(_.usage).sum.toDouble
    val v = vocab.size.toDouble
    val p1: Map[String, Double] = vocab.map(p => p.piece -> (p.usage + 1L) / (t1 + v)).toMap
    val maxLen = if (vocab.isEmpty) 1 else vocab.map(p => Bpe.toSymbols(p.piece).length).max
    UnigramExprs.viterbi(word, p1, maxLen)
  }

  // ---- registered queries -------------------------------------------------

  /** The trained vocabulary itself: oracle-green here proves the whole
    * trainer (seed counting, the Viterbi E-step's product/tie argmax,
    * usage recount, pruning order) replays exactly.
    */
  def vocabQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    train(Tables.documents(spark, dir), "text")
      .map(p => (p.piece, p.usage))
      .toDF("piece", "usage")
      .orderBy(col("piece"))
  }

  /** Per-document token budget under the trained unigram vocabulary:
    * word count and best-path piece count — the [[Bpe.tokensQuery]]
    * twin, exercising the smoothed encoder end-to-end over every
    * document word.
    */
  def tokensQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = train(docs, "text")
    docs.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), size(encode(col("word"), vocab)).cast("long").as("n_sub"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_unigram_vocab" -> (vocabQuery _),
    "llm_unigram_tokens" -> (tokensQuery _))

  // ---- oracle -------------------------------------------------------------

  /** Oracle word-length unroll bound: the DP chain is static SQL, so it
    * covers positions 1..MaxWordLen — 2× the corpus's longest word
    * (8 codepoints at every SF; a longer word would surface as a
    * missing-row mismatch, not silent agreement).
    */
  private val MaxWordLen = 16

  /** One unrolled Viterbi chain over the distinct-word table `w0(word,
    * freq, cl, ln)` against probability table `probTbl(piece, p)`:
    * CTEs `{pre}dp1..{pre}dpN` and `{pre}fin(word, freq, n[, path])`.
    * Candidate ordering in QUALIFY = the Scala DP's (product desc,
    * pieces asc, split point asc). `withPath` additionally threads the
    * best path's piece list (the E-step needs WHICH pieces won, not
    * just how many).
    */
  private def dpChain(pre: String, probTbl: String, withPath: Boolean): String = {
    val sb = new StringBuilder
    sb.append(
      s""",
         |${pre}dp0 AS MATERIALIZED (
         |  SELECT word, CAST(1.0 AS DOUBLE) AS v, 0 AS n${
           if (withPath) ", CAST([] AS VARCHAR[]) AS path" else ""}
         |  FROM w0)""".stripMargin)
    for (t <- 1 to MaxWordLen) {
      val arms = (math.max(0, t - MaxPieceLen) until t).map { j =>
        s"""    SELECT d.word, d.v * pt.p AS v, d.n + 1 AS n, $j AS j${
             if (withPath) ", list_append(d.path, pt.piece) AS path" else ""}
           |    FROM ${pre}dp$j d
           |    JOIN w0 ON w0.word = d.word AND w0.ln >= $t
           |    JOIN $probTbl pt ON pt.piece = array_to_string(w0.cl[${j + 1}:$t], '')""".stripMargin
      }.mkString("\n    UNION ALL\n")
      sb.append(
        s""",
           |${pre}dp$t AS MATERIALIZED (
           |  SELECT word, v, n${if (withPath) ", path" else ""} FROM (
           |$arms
           |  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY word ORDER BY v DESC, n ASC, j ASC) = 1)""".stripMargin)
    }
    val finArms = (1 to MaxWordLen).map { t =>
      s"""    SELECT w0.word, w0.freq, d.n${if (withPath) ", d.path" else ""}
         |    FROM ${pre}dp$t d JOIN w0 USING (word) WHERE w0.ln = $t""".stripMargin
    }.mkString("\n    UNION ALL\n")
    sb.append(
      s""",
         |${pre}fin AS MATERIALIZED (
         |  SELECT * FROM (
         |$finArms
         |  ))""".stripMargin)
    sb.toString
  }

  /** The shared trainer replica: distinct words, per-occurrence seed
    * counts with the single-codepoint/`MinSeedCount` retention rule,
    * p0 = cnt/ΣCnt, the path-tracking E-step chain, usage recount, and
    * the pruned final vocabulary `vocab(piece, usage)`.
    */
  private def trainerCtes: String =
    s"""w0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |    string_split(word, '') AS cl, length(word) AS ln
       |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |        FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |occ AS MATERIALIZED (
       |  SELECT array_to_string(cl[i:i + l - 1], '') AS piece, l AS cp, freq
       |  FROM w0,
       |    UNNEST(generate_series(1, ln)) AS si(i),
       |    UNNEST(generate_series(1, $MaxPieceLen)) AS sl(l)
       |  WHERE i + l - 1 <= ln),
       |seeds AS MATERIALIZED (
       |  SELECT piece, cp, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM occ GROUP BY piece, cp
       |  HAVING cp = 1 OR SUM(freq) >= $MinSeedCount),
       |sp AS MATERIALIZED (
       |  SELECT piece, CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM seeds) AS p
       |  FROM seeds)${dpChain("e", "sp", withPath = true)},
       |usage_t AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS usage
       |  FROM (SELECT freq, unnest(path) AS piece FROM efin)
       |  GROUP BY piece),
       |vocab AS MATERIALIZED (
       |  SELECT s.piece, COALESCE(u.usage, 0) AS usage
       |  FROM seeds s LEFT JOIN usage_t u USING (piece) WHERE s.cp = 1
       |  UNION ALL
       |  SELECT piece, usage FROM (
       |    SELECT u.piece, u.usage FROM usage_t u JOIN seeds s USING (piece)
       |    WHERE s.cp > 1
       |    ORDER BY u.usage DESC, u.piece LIMIT $VocabMulti))""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_unigram_vocab" ->
      s"""WITH $trainerCtes
         |SELECT piece, usage FROM vocab ORDER BY piece""".stripMargin,
    // the smoothed-encoder chain on top of the trained vocabulary,
    // rolled up per document over every word occurrence
    "llm_unigram_tokens" ->
      s"""WITH $trainerCtes,
         |vp AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(usage + 1 AS DOUBLE) /
         |      ((SELECT SUM(usage) FROM vocab) + (SELECT COUNT(*) FROM vocab)) AS p
         |  FROM vocab)${dpChain("k", "vp", withPath = false)},
         |dw AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
         |  FROM documents)
         |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(f.n) AS BIGINT) AS n_pieces
         |FROM dw d JOIN kfin f USING (word)
         |WHERE d.word <> ''
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)
}

/** Per-occurrence ≤ maxLen-codepoint substrings of a word, with each
  * piece's codepoint length — the unigram seed-candidate generator as
  * one scan-speed expression (codepoint-safe, like [[BpeSymbols]]).
  */
case class UnigramSubstrings(child: Expression, maxLen: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("piece", StringType, nullable = false),
      StructField("cp", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "unigram_substrings"

  def compute(word: UTF8String): Any = {
    val syms = Bpe.toSymbols(word.toString)
    val out = new scala.collection.mutable.ArrayBuffer[Any](syms.length * maxLen)
    var i = 0
    while (i < syms.length) {
      var l = 1
      while (l <= maxLen && i + l <= syms.length) {
        out += org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(syms.slice(i, i + l).mkString), l)
        l += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("uniSubs", this, classOf[UnigramSubstrings].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): UnigramSubstrings =
    copy(child = newChild)
}

/** Viterbi best-path segmentation under a fixed (piece → probability)
  * table — the unigram E-step kernel AND the trained encoder, as one
  * scan-speed expression holding the vocabulary-sized map (the
  * [[BpeApplyMerges]] driver-artifact class).
  */
case class UnigramViterbi(child: Expression, probs: Map[String, Double], maxLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"

  def compute(word: UTF8String): Any =
    new GenericArrayData(
      Unigram.viterbiPath(word.toString, probs, maxLen)
        .map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("uniVit", this, classOf[UnigramViterbi].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): UnigramViterbi =
    copy(child = newChild)
}

private[graft] object UnigramExprs {
  import org.apache.spark.sql.graft.ColumnBridge

  def substrings(word: Column, maxLen: Int): Column =
    ColumnBridge.column(UnigramSubstrings(ColumnBridge.expression(word), maxLen))

  def viterbi(word: Column, probs: Map[String, Double], maxLen: Int): Column =
    ColumnBridge.column(UnigramViterbi(ColumnBridge.expression(word), probs, maxLen))
}
