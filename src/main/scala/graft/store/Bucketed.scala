package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.Exact

/** Bucketed tables: the shuffle paid ONCE, at write time.
  *
  * `bucketBy(n, key)` hash-partitions rows into `n` buckets per write
  * task and records the layout in the catalog; every later equi-join or
  * aggregation on `key` between same-bucketed tables then reads
  * co-located buckets and plans with NO exchange (SkewBucketSpec and
  * BucketedSpec assert the executed plans). This is the at-rest twin of
  * `broadcast()`: broadcast removes the shuffle when one side is small,
  * bucketing removes it when BOTH sides are big but the join key is
  * stable — the classic warehouse fact/fact layout (orders ⋈ lineitem,
  * fact ⋈ daily-refreshed dim). At 100 TB the win compounds: a fact
  * table joined on the same key by every downstream query re-shuffles
  * per query unbucketed, and zero times bucketed.
  *
  * The builder brief names bucketing explicitly as the co-located-join
  * strategy; the reference has no counterpart (its joins are per-batch
  * pandas merges, e.g. web_transform.py's enrichment join), so this is
  * scale infrastructure, not parity.
  */
object Bucketed {

  /** Write `df` as a bucketed, in-bucket-sorted parquet table at an
    * explicit `path` (external table — the engine never writes inside
    * the repo/cwd warehouse default), replacing any previous `table`
    * registration. Sorting by the bucket key makes sort-merge joins
    * skip their sort too when files-per-bucket is 1.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write.format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .option("path", path)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** Equi-join two same-bucketed catalog tables on their bucket key —
    * plans with zero shuffle exchanges (asserted in BucketedSpec).
    */
  def coLocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), Seq(key))

  // ---- registered query ---------------------------------------------------

  private val NBuckets = 8

  /** One bucketed build per (session, source dir, source fingerprint),
    * as (orders table, customer table, scratch root): the write-side
    * shuffle is the ONE-OFF cost the layout exists to amortize, so
    * repeated invocations (Verify then Bench then ad-hoc) must hit the
    * already-built tables, not rewrite them — before this memo every
    * call leaked a fresh temp root and re-paid the write shuffle, so the
    * benched time measured the build, not the co-located read it
    * showcases (r5 verdict #3). Switching dirs — or rewriting either
    * source table in place, which changes the filesystem fingerprint —
    * drops the old tables and deletes their root.
    */
  private[graft] val built = new SessionMemo[(String, Long), (String, String, String)](1,
    (spark, b) => {
      spark.sql(s"DROP TABLE IF EXISTS ${b._1}")
      spark.sql(s"DROP TABLE IF EXISTS ${b._2}")
      ScratchDirs.release(b._3)
    })

  private def sourceFingerprint(dir: String): Long =
    Snapshot.fingerprint(dir, "orders.parquet") ^
      java.lang.Long.rotateLeft(Snapshot.fingerprint(dir, "customer.parquet"), 31)

  /** Catalog names must be session-unique: concurrent sessions sharing
    * one metastore would otherwise clobber each other's registrations
    * (the session's UUID tag — see `CatalogTable.sessionTag`).
    */
  private[graft] def tableNames(spark: SparkSession): (String, String) = {
    val tag = CatalogTable.sessionTag(spark)
    (s"graft_b_orders_$tag", s"graft_b_customer_$tag")
  }

  /** Per-customer order count + exact spend through the BUCKETED path:
    * build both bucketed tables (the one-off write-side shuffle,
    * memoized — see `built`), then join AND aggregate on the bucket key
    * with no exchange anywhere between scan and result (the groupBy
    * reuses the bucket partitioning too). Results are byte-identical to
    * the plain join — what changes is only where the shuffle happens,
    * which is the entire point; the oracle proves the equivalence.
    */
  def spendBucketedQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ordersT, custT, _) = built.get(spark, (dir, sourceFingerprint(dir))) {
      val (ordersT, custT) = tableNames(spark)
      val root = ScratchDirs.create("graft_buckets")
      writeBucketed(
        Tables.orders(spark, dir)
          .select(col("o_custkey").as("custkey"), col("o_totalprice")),
        ordersT, s"$root/orders", "custkey", NBuckets)
      writeBucketed(
        Tables.customer(spark, dir)
          .select(col("c_custkey").as("custkey"), col("c_name")),
        custT, s"$root/customer", "custkey", NBuckets)
      (ordersT, custT, root)
    }
    coLocatedJoin(spark, ordersT, custT, "custkey")
      .groupBy(col("custkey"), col("c_name"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.moneySum(col("o_totalprice")).as("total_spend"))
      .orderBy(col("custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_spend" -> (spendBucketedQuery _))

  val oracles: Map[String, String] = Map(
    "bucketed_spend" ->
      """SELECT o.o_custkey AS custkey, c.c_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY custkey""".stripMargin)
}
