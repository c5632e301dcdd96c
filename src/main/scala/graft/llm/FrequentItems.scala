package graft.llm

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** Misra-Gries frequent-items summary (Misra & Gries 1982; mergeable
  * form per Agarwal et al., "Mergeable Summaries", PODS 2012) as a
  * Catalyst TypedImperativeAggregate — the bounded-state half of the
  * two-pass exact heavy-hitters operator.
  *
  * State is at most k (token, count) pairs per partial aggregate.
  * update: increment a present key, insert while below k, otherwise
  * decrement every counter (dropping zeros). merge: sum the two maps,
  * then subtract the (k+1)-largest count from all and drop non-positive
  * — the mergeable-summaries rule. The guarantee that matters (proved
  * against partitioning in FrequentItemsSpec): after ANY split of the
  * input into partial aggregates merged in ANY order, every token whose
  * true count exceeds N/(k+1) is present in the final summary, and no
  * stored count overcounts. Individual counts (and borderline
  * survivors) DO depend on merge order — which is why [[eval]] emits
  * only the candidate token set and the registered query re-counts
  * candidates exactly in a second pass: sketch-order nondeterminism
  * never reaches the output.
  *
  * This is the aggregate-API counterpart of the declarative CMS sketch
  * (`TextAnalysis.cmsHeavyHitters`): CMS builds a fixed-size counter
  * TABLE with a groupBy, this builds a fixed-size per-partition STATE
  * inside Spark's partial-aggregation machinery (serialize/merge are
  * the same hooks a streaming state store or a sketch-mergeing rollup
  * would use), and it never materializes the vocabulary at all.
  */
case class MisraGriesSummary(
    child: Expression,
    k: Int,
    withCounts: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1, s"summary size k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (withCounts)
      ArrayType(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType, nullable = false))),
        containsNull = false)
    else ArrayType(StringType, containsNull = false)
  override def prettyName: String = "misra_gries_summary"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < k => buf.update(key, 1L)
        case None =>
          // decrement-all: drop one occurrence of k+1 DISTINCT tokens
          // (this one and k stored) — the classic MG step
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (t, c) => if (c <= 0) dead += t }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k) {
      // subtract the (k+1)-largest count from everything, drop <= 0:
      // at most k survive, and the uniform subtraction preserves the
      // undercount bound additively (mergeable-summaries argument)
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val d = counts(counts.length - (k + 1))
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - d)
      buf.foreach { case (t, c) => if (c <= 0) dead += t }
      dead.foreach(buf.remove)
    }
    buf
  }

  /** Candidate token set, sorted for a stable (if order-inspected)
    * layout. Counts are emitted only in `withCounts` mode — they are
    * sketch LOWER BOUNDS whose exact values depend on merge order, so
    * batch queries leave them out; the streaming state fold needs them
    * to keep merging across micro-batches.
    */
  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val toks = buf.keysIterator.toArray
    java.util.Arrays.sort(toks, implicitly[Ordering[String]])
    if (withCounts)
      new GenericArrayData(toks.map(t => InternalRow(
        UTF8String.fromString(t), buf(t)).asInstanceOf[Any]))
    else
      new GenericArrayData(toks.map(t => UTF8String.fromString(t).asInstanceOf[Any]))
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { val t = in.readUTF(); val c = in.readLong(); buf.update(t, c); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesSummary =
    copy(child = newChildren.head)
}

/** Two-pass exact heavy hitters over an unbounded vocabulary:
  * pass 1 = [[MisraGriesSummary]] (k-bounded state through Spark's
  * partial aggregation — the vocabulary is NEVER materialized), pass 2
  * = exact counts of the ≤ k candidates only (semi-join before the
  * groupBy, so the shuffle carries candidate rows alone) plus one total
  * count. The output keeps tokens with tf·100 ≥ N (frequency ≥ 1%,
  * integer arithmetic): with k = 128, N/(k+1) < N/100 ≤ tf for every
  * qualifying token, so MG retention is GUARANTEED — the final result
  * is exact and deterministic however the sketch shuffled, which is
  * what lets a DuckDB GROUP BY/HAVING oracle gate a sketch operator
  * bit-for-bit.
  */
object FrequentItems {

  def mgSummary(token: Column, k: Int, withCounts: Boolean = false): Column =
    ColumnBridge.column(
      MisraGriesSummary(ColumnBridge.expression(token), k, withCounts).toAggregateExpression())

  /** Driver-side MG merge of two (token → count) summaries — the SAME
    * rule as [[MisraGriesSummary.merge]], exposed for the streaming
    * state fold where both sides are bounded at-rest artifacts (≤ k
    * rows each), so the merge is a driver computation by design.
    */
  def mergeSummaries(a: Map[String, Long], b: Map[String, Long], k: Int): Map[String, Long] = {
    val buf = mutable.HashMap.empty[String, Long]
    a.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    b.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k) {
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val d = counts(counts.length - (k + 1))
      buf.filterInPlace((_, c) => c - d > 0)
      buf.mapValuesInPlace((_, c) => c - d)
    }
    buf.toMap
  }

  /** (token, n): tokens with frequency ≥ 1/`pctDenom` of all tokens,
    * exact counts, via the MG-candidates-then-exact-count plan.
    * Requires pctDenom < k + 1 so the sketch guarantee covers the
    * threshold.
    */
  def frequentTokens(docs: DataFrame, textCol: String,
                     k: Int = 128, pctDenom: Int = 100): DataFrame = {
    require(pctDenom < k + 1,
      s"threshold 1/$pctDenom below the MG guarantee 1/${k + 1}: raise k")
    val spark = docs.sparkSession
    val toks = docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint() // one token explode feeds sketch, total, and recount
    // bounded driver artifact: <= k candidate tokens
    val candidates = toks.agg(mgSummary(col("token"), k).as("cand"))
      .select(explode(col("cand")).as("token"))
    val total = toks.count()
    // materialize the (<= k)-row result, then release the token blocks:
    // the returned frame must not depend on the big scratch checkpoint
    val out = toks.join(candidates, Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") * lit(pctDenom.toLong) >= lit(total))
      .orderBy(col("n").desc, col("token"))
      .localCheckpoint()
    graft.store.Checkpoints.free(toks)
    out
  }

  // ---- registered queries -------------------------------------------------

  def frequentTokensQuery(spark: SparkSession, dir: String): DataFrame =
    frequentTokens(Tables.documents(spark, dir), "text")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_frequent_terms_mg" -> (frequentTokensQuery _))

  val oracles: Map[String, String] = Map(
    // the sketch prefilter is invisible to the answer (retention
    // guarantee + exact recount), so the oracle is the plain exact form
    "llm_frequent_terms_mg" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tt AS (SELECT token, COUNT(*) AS n FROM t WHERE token <> '' GROUP BY token),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tt)
        |SELECT token, n FROM tt, tot
        |WHERE n * 100 >= total
        |ORDER BY n DESC, token""".stripMargin)
}
