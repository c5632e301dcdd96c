package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.{Cleansing, Exact}

/** POS batch pipeline (SURVEY.md §3.1; ref validate.py, transfom_pos.py).
  *
  * Over the synthetic tables: lineitem plays the POS ledger (product ≈
  * l_partkey, revenue ≈ l_extendedprice, timestamp ≈ l_shipdate). The
  * reference-schema batch path (CSV with declared schema → validate →
  * dropDuplicates → KPI agg → additive MERGE) is `runBatch`, unit-tested on
  * FIXTURES.md-shaped CSVs.
  *
  * Scale: the KPI aggregation is a map-side-combinable hash agg keyed by
  * (product, date); the additive merge is a re-aggregation on the same key,
  * so merging N daily batches is one shuffle, not N rewrites.
  */
object Pos {

  import org.apache.spark.sql.types.StructType

  /** Ref transfom_pos.py:30-38 — declared CSV schema (never inferred). */
  val posSchema: StructType = graft.schema.Schemas.pos

  /** Ref transform (transfom_pos.py:112-129): epoch→ts+date, dedup, KPI.
    *
    * ONE exchange serves the dedup and the KPI: duplicate rows share their
    * (product_id, date), so hash partitioning on that KPI key clusters
    * every duplicate together and the full-row dropDuplicates runs
    * partition-locally; the KPI groupBy on the same key needs no exchange
    * of its own. A dedup left to plan its own exchange would hash on the
    * full row, and the KPI would pay a second one.
    */
  def transform(raw: DataFrame): (DataFrame, DataFrame) = {
    val curated = raw
      .withColumn("ts", Cleansing.epochToTs(col("timestamp")))
      .withColumn("date", to_date(col("ts")))
      .repartition(col("product_id"), col("date"))
      .dropDuplicates()
    val kpi = curated
      .groupBy(col("product_id"), col("date"))
      .agg(round(sum(col("revenue")), 2).as("total_sales"))
    (curated, kpi)
  }

  /** Ref CSV read (transfom_pos.py:40-47). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(posSchema).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(posSchema).option("header", "true").csv(paths: _*)

  // ---- registered queries over the synthetic tables -----------------------

  private val MergeSplit = "1999-01-01"

  private val kpiSql =
    "CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE)"

  /** A10/E14/E4 — sales-per-product-per-day KPI. */
  def salesKpi(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("sale_date", to_date(col("l_shipdate")))
      .groupBy(col("l_partkey").as("product_id"), col("sale_date"))
      .agg(Exact.moneySum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("product_id"), col("sale_date"))

  /** J3 — full-row dedup + derived date (curated table shape).
    *
    * ONE exchange serves both the dedup and the output order (guide
    * §2.4, r20): the rows are range-partitioned by the (unique after
    * dedup) sort prefix, the full-row dropDuplicates rides that exchange
    * partition-locally (RangePartitioning(ok, ln) clusters every
    * duplicate row together), and the final orderBy is satisfied by the
    * same partitioning — where dedup-then-sort paid a hash exchange AND
    * a range exchange of the (nearly duplicate-free, measured ~1:1) full
    * rows.
    */
  def curated(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"),
        to_date(col("l_shipdate")).as("sale_date"))
      .repartitionByRange(col("l_orderkey"), col("l_linenumber"))
      .dropDuplicates()
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** J5 — additive MERGE of two KPI batches (ref transfom_pos.py:140-152).
    *
    * Fused form (r21, guide §2.4): the two merge inputs are a DATE split
    * of one table, so the side flag `sale_date < MergeSplit` is a
    * FUNCTION of the merge key — every (product_id, sale_date) group
    * lives entirely on one side, `Upsert.additive`'s outer
    * SUM(total_sales) folds exactly one row per key, and the whole merge
    * is bit-identical to the single fused aggregate
    * round(sum(decimal), 2) per (product_id, sale_date): the decimal
    * accumulation is exact (order-free, so splitting the rows by date
    * and summing per side changes nothing) and a one-element double sum
    * is the identity. The union form paid one aggregate exchange keyed
    * (product, date, side) per side subtree PLUS the post-union re-agg
    * exchange keyed (product, date) — the fused aggregate keeps map-side
    * partial aggregation and pays ONE hash exchange before the output
    * sort. `Upsert.additive` itself — the general operator, whose sides
    * really are independent frames — is unchanged (stream_kpi_state,
    * runBatch, UpsertSpec still exercise it).
    */
  def mergeAdditive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("sale_date", to_date(col("l_shipdate")))
      .groupBy(col("l_partkey").as("product_id"), col("sale_date"))
      .agg(Exact.moneySum(col("l_extendedprice")).as("total_sales"))
      .orderBy(col("product_id"), col("sale_date"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pos_sales_kpi" -> (salesKpi _),
    "pos_curated" -> (curated _),
    "pos_merge_additive" -> (mergeAdditive _))

  val oracles: Map[String, String] = Map(
    "pos_sales_kpi" ->
      s"""SELECT l_partkey AS product_id, CAST(l_shipdate AS DATE) AS sale_date,
         |  $kpiSql AS total_sales
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pos_curated" ->
      """SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  l_quantity, l_extendedprice, CAST(l_shipdate AS DATE) AS sale_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "pos_merge_additive" ->
      s"""WITH existing AS (
         |  SELECT l_partkey AS product_id, CAST(l_shipdate AS DATE) AS sale_date,
         |    $kpiSql AS total_sales
         |  FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '$MergeSplit' GROUP BY 1, 2),
         |delta AS (
         |  SELECT l_partkey AS product_id, CAST(l_shipdate AS DATE) AS sale_date,
         |    $kpiSql AS total_sales
         |  FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '$MergeSplit' GROUP BY 1, 2)
         |SELECT product_id, sale_date, SUM(total_sales) AS total_sales
         |FROM (SELECT * FROM existing UNION ALL SELECT * FROM delta)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
