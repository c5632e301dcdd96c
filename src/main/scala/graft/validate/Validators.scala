package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** A named validation rule: `pass` is true for rows that satisfy it. */
final case class Rule(name: String, pass: Column)

/** Record- and file-level validation (SURVEY.md §2.3, P1–P13).
  *
  * The reference validates per record for the streaming pipelines
  * (producer.py:48-56, lambda_function.py:70-85) and per *file* for the
  * batch ones — any violation quarantines the whole file
  * (inventory_validate.py:238-276, validate.py:62-81). Both modes are
  * single-pass column expressions: the split is two filters over one scan
  * (Catalyst reuses the cached plan), the file summary is one aggregate,
  * and the per-file gate is one filtered scan.
  */
object Validators {

  /** Record-level split: (valid, rejected-with-reason).
    * The reason is the first failing rule, matching the reference's
    * short-circuit per-record checks (lambda_function.py:70-85).
    */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) = {
    val allPass = rules.map(_.pass).reduce(_ && _)
    val reason = rules.foldRight(lit(null: String)) { (r, rest) =>
      when(!coalesce(r.pass, lit(false)), lit(r.name)).otherwise(rest)
    }
    val valid = df.filter(coalesce(allPass, lit(false)))
    val rejected = df.filter(!coalesce(allPass, lit(false)))
      .withColumn("reject_reason", reason)
    (valid, rejected)
  }

  /** P3: required string present and non-blank (ref transformation.py:61-74). */
  def requiredNonBlank(c: Column): Column = c.isNotNull && trim(c) =!= ""

  /** File-level summary: one row with total count and a violation count per
    * rule (ref inventory_validate.py:238-276 does this with pandas sums).
    * A file is quarantined iff any violation count > 0. Violation sums are
    * coalesced to 0: on a zero-row input (header-only CSV, empty JSONL)
    * sum() is null, and a downstream getLong would NPE.
    */
  def fileSummary(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val aggs = count(lit(1)).as("total_rows") +:
      rules.map(r =>
        coalesce(sum(when(!coalesce(r.pass, lit(false)), 1).otherwise(0)), lit(0L)).as(s"viol_${r.name}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** The distinct values of `key` over the rows that violate any rule, in
    * one job with no exchange: the violating rows are filtered in the
    * scan, each partition dedupes its own keys, and the driver unions the
    * partitions' sets. The result is bounded by keys × partitions, not by
    * rows. The batch orchestrators pass the input file name as `key`, so
    * one scan of the whole batch yields every file's verdict; a zero-row
    * file has no violating row and so passes (valid but empty). A
    * `groupBy(key)` summary would pay a shuffle map stage, which under
    * AQE is its own job.
    */
  def violatingKeys(df: DataFrame, key: Column, rules: Seq[Rule]): Set[String] = {
    val allPass = rules.map(r => coalesce(r.pass, lit(false))).reduce(_ && _)
    df.filter(!allPass).select(key).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().toSet
  }

  /** P6: file-level required-column presence. Returns missing column names. */
  def missingColumns(df: DataFrame, required: Seq[String]): Seq[String] =
    required.filterNot(df.columns.map(_.toLowerCase).contains)

  /** P2: extra-column detection (ref api.py:125-135): columns beyond the
    * declared set, to be routed aside rather than dropped silently.
    */
  def extraColumns(df: DataFrame, declared: Seq[String]): Seq[String] =
    df.columns.filterNot(declared.contains).toSeq

  /** P2 record routing (ref api.py:125-135): each record of a raw-JSON
    * column whose object carries keys beyond the declared schema goes to
    * the extras side output — full record preserved plus the offending key
    * names (`extra_columns`) — instead of having those keys silently
    * dropped by the schema'd parse. Conforming records pass through
    * untouched. Records that aren't JSON objects have no keys to judge;
    * they stay on the conforming side for the corrupt-record path (S3) to
    * route. One scan, two filters — no shuffle.
    */
  def routeExtras(raw: DataFrame, jsonCol: String, declared: Seq[String]): (DataFrame, DataFrame) = {
    val extraKeys = array_except(
      json_object_keys(col(jsonCol)), array(declared.map(lit): _*))
    val conforming = raw.filter(coalesce(size(extraKeys), lit(0)) <= 0)
    val extras = raw.filter(coalesce(size(extraKeys), lit(0)) > 0)
      .withColumn("extra_columns", extraKeys)
    (conforming, extras)
  }

  /** Schema conformance on read — the dual of extra-column routing:
    * project a frame (e.g. an older snapshot written before a column
    * existed) onto the CURRENT declared schema. Missing columns
    * materialize as typed nulls, present ones cast to the declared type,
    * undeclared ones drop, order follows the declaration — so batch jobs
    * can union snapshots across schema versions without per-version
    * branches. Scan-speed projection, no shuffle.
    */
  def conformTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }
}
