package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleansing / derivation expressions (SURVEY.md §2.4, E1–E16).
  *
  * Everything here is a built-in column expression — whole-stage codegen,
  * zero UDFs — so all of it stays inside Catalyst's optimizer and Tungsten's
  * generated code at any scale.
  */
object Cleansing {

  /** E1: epoch seconds-or-millis heuristic (ref transformation.py:37-49):
    * values > 1e11 are treated as milliseconds.
    */
  def epochAutoToTs(c: Column): Column =
    timestamp_seconds(when(c > lit(1e11), c / 1000).otherwise(c))

  /** E1 numeric half: normalize an ambiguous epoch to seconds (double). */
  def epochAutoSeconds(c: Column): Column =
    when(c > lit(1e11), c / 1000).otherwise(c)

  /** E2/E3: plain epoch seconds → timestamp (ref lambda_function.py:110-114,
    * inventory_transform.py:403-406).
    */
  def epochToTs(c: Column): Column = timestamp_seconds(c)

  /** E6: trim; empty → null (ref lambda_function.py:92-99). */
  def trimToNull(c: Column): Column = {
    val t = trim(c)
    when(t === "", lit(null)).otherwise(t)
  }

  /** E8, deterministic variant for verifiable outputs:
    * "anon" + first 8 hex chars of sha256(salt). Production variant below
    * keeps the reference's uuid4 semantics (ref transformation.py:76-79).
    */
  def anonId(salt: Column): Column =
    concat(lit("anon"), substring(sha2(salt.cast("string"), 256), 1, 8))

  /** E8, production variant (nondeterministic like the reference's uuid4). */
  def anonIdRandom(): Column =
    concat(lit("anon"), substring(regexp_replace(expr("uuid()"), "-", ""), 1, 8))

  /** E9: engagement score, reference taxonomy (ref script.sql:63-72). */
  def engagementScore(eventType: Column): Column =
    when(eventType === "Click", 2)
      .when(eventType === "View", 1)
      .when(eventType === "Scroll", 1)
      .when(eventType === "Like", 3)
      .when(eventType === "Comment", 4)
      .otherwise(1)

  /** E9 over the synthetic events taxonomy (click/view/signup/purchase/error). */
  def engagementScoreSynthetic(eventType: Column): Column =
    when(eventType === "click", 2)
      .when(eventType === "view", 1)
      .when(eventType === "signup", 3)
      .when(eventType === "purchase", 4)
      .otherwise(1)

  /** E10: guarded percentage (ref script.sql:84-86). */
  def guardedPct(flagSum: Column, total: Column): Column =
    when(total > 0, lit(100.0) * flagSum / total).otherwise(lit(0.0))

  /** E16: hive partition columns from a timestamp
    * (ref transformation.py:163-165).
    */
  def partitionCols(ts: Column): Seq[(String, Column)] = Seq(
    "year" -> year(ts),
    "month" -> month(ts),
    "day" -> dayofmonth(ts),
    "hour" -> hour(ts))

  /** P10: rating in [1,5] kept, else null (ref lambda_function.py:100-104). */
  def cleanRating(c: Column): Column = when(c.between(1, 5), c)

  /** Synthetic rating surrogate derived from events.value: floor(value) % 7
    * ∈ [0,6], so P10's null-out path has real traffic on the test tables.
    */
  def syntheticRating(value: Column): Column =
    floor(value).cast("int") % 7
}
