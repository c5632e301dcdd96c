package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.store.Upsert
import graft.validate.{Rule, Validators}

/** Inventory batch pipeline (SURVEY.md §2 J2/J4/A11/P8; ref
  * inventory_validate.py, inventory_transform.py).
  *
  * Over the synthetic tables: lineitem plays the inventory feed (key ≈
  * l_partkey, freshness ≈ l_shipdate). The reference-schema validation
  * rules (stock ≥ 0, threshold ≥ 0 when present, not-future timestamps,
  * whole-file quarantine) are in `inventoryRules` and unit-tested on
  * FIXTURES.md-shaped JSONL.
  *
  * Scale: latest-per-key dedup is one aggregate on the key with map-side
  * partial aggregation; `mergeLatest` folds the replace-upsert into the
  * same aggregate, so a batch write pays one exchange.
  */
object Inventory {

  import org.apache.spark.sql.types.StructType

  /** Ref inventory_validate.py:33-41 — declared JSONL schema. */
  val inventorySchema: StructType = graft.schema.Schemas.inventory

  /** P8 — business rules (ref inventory_validate.py:255-276). `now` is a
    * parameter, not a wall-clock read, so validation is replayable.
    */
  def inventoryRules(nowEpoch: Double): Seq[Rule] = Seq(
    Rule("negative_stock", col("stock_level") >= 0),
    Rule("negative_threshold", col("restock_threshold").isNull || col("restock_threshold") >= 0),
    Rule("future_timestamp", col("last_updated") <= lit(nowEpoch + 24 * 3600)))

  /** File-level gate: reject the whole file iff any rule is violated
    * (ref inventory_validate.py:238-276).
    */
  def fileIsValid(df: DataFrame, nowEpoch: Double): Boolean = {
    val row = Validators.fileSummary(df, inventoryRules(nowEpoch)).head()
    (1 until row.length).forall(i => row.getLong(i) == 0L)
  }

  /** J2 — latest record per key (ref inventory_transform.py:483-484): one
    * keyed aggregate, argmax of the whole row by `order` (descending
    * priority) and then by every remaining column, so ties on `order`
    * resolve to the same row whatever the input order or partitioning.
    * `max_by` keeps map-side partial aggregation, so one candidate per
    * key per input split crosses the one exchange (its struct buffer
    * plans as a sort-based aggregate, sorting by key on each side); a
    * row_number window would shuffle every row and pick among ties by
    * arrival order. A null `order` value ranks below any other, as in a
    * descending window's nulls-last. Every column must be orderable.
    */
  def latestPerKey(df: DataFrame, key: String, order: Seq[String]): DataFrame = {
    val rest = df.columns.filterNot(c => c == key || order.contains(c))
    df.groupBy(col(key))
      .agg(max_by(struct(df.columns.map(col).toIndexedSeq: _*),
        struct((order ++ rest).map(col): _*)).as("r"))
      .select("r.*")
  }

  /** J2 + J4 in one keyed aggregate: the latest `batch` row per key
    * replaces that key's `state` row, and keys absent from the batch keep
    * theirs. State rows (`_src` 0) and batch rows (`_src` 1) go through
    * one `latestPerKey` ordered by source first, so any batch row beats
    * the state row of its key whatever its `order` values, as
    * `Upsert.replaceOnMatch` over a deduplicated batch does, and the
    * write pays one exchange instead of a dedup's plus an anti join's.
    * `state` holds one row per key and `batch`'s columns.
    */
  def mergeLatest(state: Option[DataFrame], batch: DataFrame, key: String,
                  order: Seq[String]): DataFrame = {
    val sources = state.map(_.withColumn("_src", lit(0))).toSeq :+ batch.withColumn("_src", lit(1))
    latestPerKey(sources.reduce(_ unionByName _), key, "_src" +: order).drop("_src")
  }

  // ---- registered queries over the synthetic tables -----------------------

  private val UpsertSplit = "1999-01-01"

  /** Latest row per part as a MAX_BY aggregation (r20, guide §2.3): the
    * (shipdate, orderkey, linenumber) ordering is total — (orderkey,
    * linenumber) is the table key — so argmax-by-struct selects exactly
    * the row the old row_number()-over-desc-window picked, but with
    * map-side partial aggregation (one candidate per part per input
    * split crosses the exchange, not every row) and NO per-partition
    * sort of the full table. W1's row_number coverage lives on in the
    * kNN top-k family (COVERAGE.md).
    */
  private def latestLineitem(df: DataFrame): DataFrame =
    df.groupBy(col("l_partkey"))
      .agg(max_by(
        struct(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))).as("r"))
      .select(col("l_partkey"), col("r.l_orderkey").as("l_orderkey"),
        col("r.l_linenumber").as("l_linenumber"), col("r.l_quantity").as("l_quantity"))

  /** J2/W1 — window dedup, latest per part. */
  def dedupLatest(spark: SparkSession, dir: String): DataFrame =
    latestLineitem(Tables.lineitem(spark, dir)).orderBy(col("l_partkey"))

  /** J4 — replace-on-match upsert of a fresh batch into the latest state. */
  def upsertReplace(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val target = latestLineitem(li.filter(to_date(col("l_shipdate")) < lit(UpsertSplit)))
    val source = latestLineitem(li.filter(to_date(col("l_shipdate")) >= lit(UpsertSplit)))
    Upsert.replaceOnMatch(target, source, Seq("l_partkey"))
      .orderBy(col("l_partkey"))
  }

  /** A11 — duplicate-key report (ref inventory_transform.py:486-493). */
  def duplicateReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
      .filter(col("n_lines") > 1)
      .orderBy(col("l_orderkey"))

  /** P8/A13/P7 — single-row business-rule violation summary. */
  def validateSummary(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      Rule("neg_quantity", col("l_quantity") >= 0),
      Rule("bad_discount", col("l_discount") >= 0 && col("l_discount") <= 1),
      Rule("future_ship", to_date(col("l_shipdate")) <= lit("2030-01-01")),
      Rule("null_key", col("l_partkey").isNotNull))
    Validators.fileSummary(Tables.lineitem(spark, dir), rules)
  }

  /** Athena KPI parity (ref README.md:286-289 "turnover, stockouts"):
    * stockouts = parts whose LATEST quantity is below threshold.
    */
  private val StockoutThreshold = 5

  def stockouts(spark: SparkSession, dir: String): DataFrame =
    latestLineitem(Tables.lineitem(spark, dir))
      .filter(col("l_quantity") < StockoutThreshold)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_name"), col("l_quantity"))
      .orderBy(col("l_partkey"))

  /** Turnover KPI: quantity moved per part per year. */
  def turnover(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("yr", year(col("l_shipdate")))
      .groupBy(col("l_partkey"), col("yr"))
      .agg(
        sum(col("l_quantity").cast("long")).as("qty_moved"),
        count(lit(1)).as("n_shipments"))
      .orderBy(col("l_partkey"), col("yr"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "inv_stockouts" -> (stockouts _),
    "inv_turnover" -> (turnover _),
    "inv_dedup_latest" -> (dedupLatest _),
    "inv_upsert_replace" -> (upsertReplace _),
    "inv_duplicate_report" -> (duplicateReport _),
    "inv_validate_summary" -> (validateSummary _),
    "scd2_customer_history" -> (scd2History _))

  /** SCD2 over the customer dimension: a deterministic update batch
    * (every third key, balances bumped on the even ones → a mix of
    * changed / unchanged matches, plus five brand-new keys above
    * max(c_custkey)) applied to an all-open day-0 snapshot — changed
    * keys close at day 100 and reopen, unchanged pass through, new
    * keys insert open.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val current = c.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val maxKey = c.agg(max(col("c_custkey"))).head.getLong(0)
    val updates = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        when(col("c_custkey") % 2 === 0, col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(c.filter(col("c_custkey") < 5)
        .select((col("c_custkey") + lit(maxKey + 1)).as("c_custkey"),
          col("c_mktsegment"), col("c_acctbal")))
    Upsert.scd2Apply(current, updates, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"), effectiveDay = 100L)
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  private val latestSql = (pred: String) =>
    s"""SELECT l_partkey, l_orderkey, l_linenumber, l_quantity FROM (
       |  SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
       |    ROW_NUMBER() OVER (PARTITION BY l_partkey
       |      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
       |  FROM lineitem $pred) WHERE rn = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "inv_stockouts" ->
      s"""WITH latest AS (${latestSql("")})
         |SELECT l.l_partkey, p.p_name, l.l_quantity
         |FROM latest l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE l.l_quantity < $StockoutThreshold
         |ORDER BY l.l_partkey""".stripMargin,
    "inv_turnover" ->
      """SELECT l_partkey, CAST(year(l_shipdate) AS INTEGER) AS yr,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_moved,
        |  COUNT(*) AS n_shipments
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "inv_dedup_latest" ->
      (latestSql("") + "\nORDER BY l_partkey"),
    "inv_upsert_replace" ->
      s"""WITH tgt AS (${latestSql(s"WHERE CAST(l_shipdate AS DATE) < DATE '$UpsertSplit'")}),
         |src AS (${latestSql(s"WHERE CAST(l_shipdate AS DATE) >= DATE '$UpsertSplit'")})
         |SELECT * FROM (
         |  SELECT t.* FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.l_partkey = t.l_partkey)
         |  UNION ALL SELECT * FROM src)
         |ORDER BY l_partkey""".stripMargin,
    "inv_duplicate_report" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem
        |GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin,
    "inv_validate_summary" ->
      """SELECT COUNT(*) AS total_rows,
        |  CAST(SUM(CASE WHEN NOT COALESCE(l_quantity >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_neg_quantity,
        |  CAST(SUM(CASE WHEN NOT COALESCE(l_discount >= 0 AND l_discount <= 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_bad_discount,
        |  CAST(SUM(CASE WHEN NOT COALESCE(CAST(l_shipdate AS DATE) <= DATE '2030-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_future_ship,
        |  CAST(SUM(CASE WHEN NOT COALESCE(l_partkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_null_key
        |FROM lineitem""".stripMargin,
    // full-outer SCD2 replica: keep / close+reopen / insert branches with
    // null-safe attribute comparison (IS NOT DISTINCT FROM)
    "scd2_customer_history" ->
      """WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey + (SELECT m + 1 FROM mx), c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey < 5),
        |j AS MATERIALIZED (
        |  SELECT c.c_custkey AS k, c.c_mktsegment AS m0, c.c_acctbal AS b0,
        |    u.c_custkey AS uk, u.c_mktsegment AS m1, u.c_acctbal AS b1,
        |    (u.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
        |      AND NOT (c.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment
        |               AND c.c_acctbal IS NOT DISTINCT FROM u.c_acctbal)) AS chg
        |  FROM customer c FULL JOIN upd u ON c.c_custkey = u.c_custkey)
        |SELECT k AS c_custkey, m0 AS c_mktsegment, b0 AS c_acctbal,
        |  CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |FROM j WHERE k IS NOT NULL AND NOT chg
        |UNION ALL
        |SELECT k, m0, b0, 0, 100 FROM j WHERE chg
        |UNION ALL
        |SELECT uk, m1, b1, 100, NULL FROM j WHERE chg
        |UNION ALL
        |SELECT uk, m1, b1, 100, NULL FROM j WHERE k IS NULL
        |ORDER BY c_custkey, valid_from""".stripMargin)
}
