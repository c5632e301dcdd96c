package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** SURVEY §2 K9 closed by demonstration, not citation: the reference
  * registers hive partitions with Athena DDL after every landing batch
  * (ref s3toathena.py:44-89, lambda_function.py:199-252 — `MSCK`-style
  * `ALTER TABLE ADD PARTITION` calls); Spark's native replacement is an
  * external catalog table over the lake layout plus ONE
  * `spark.catalog.recoverPartitions` (the MSCK REPAIR analogue) — after
  * which every reader goes through `spark.table(name)` with partition
  * pruning, no per-batch DDL.
  *
  * The proof is oracle-shaped: `web_engagement_catalog` computes the
  * exact `web_engagement` result, but through the CATALOG read of a
  * date-partitioned lake write of the same events. An external
  * partitioned table with UNRECOVERED partitions reads as zero rows, so
  * the green hash IS the demonstration that the partition registration
  * round-trips end-to-end.
  */
object CatalogTable {

  /** Catalog names must be session-unique on a SHARED metastore and
    * unique across session lifetimes, so the tag is a memoized random
    * UUID — an identity-hash name can be reused after GC (or plainly
    * collide between live sessions), letting this session's
    * `DROP TABLE IF EXISTS` take another session's live table. Every
    * session-named table of the store (here and `Bucketed`) carries it.
    */
  private val tags = new SessionMemo[Unit, String](1)

  private[store] def sessionTag(spark: SparkSession): String =
    tags.get(spark, ())(java.util.UUID.randomUUID().toString.replace("-", ""))

  private[graft] def sessionTableName(spark: SparkSession): String =
    "graft_events_cat_" + sessionTag(spark)

  /** One partitioned write + registration per (session, source dir,
    * source fingerprint), as (table name, scratch root). The memo's
    * per-session build lock matters here: registration is
    * DROP+CREATE+recover against a shared-metastore name, so two
    * concurrent builders for one session would both register and
    * orphan the loser's root.
    */
  private[graft] val built = new SessionMemo[(String, Long), (String, String)](1,
    (spark, e) => {
      spark.sql(s"DROP TABLE IF EXISTS ${e._1}")
      ScratchDirs.release(e._2)
    })

  /** The registered catalog table, built/registered on first use:
    * date-partitioned lake write → external-table DDL → ONE
    * `recoverPartitions`. Returns the catalog name to `spark.table`.
    */
  private def registeredEvents(spark: SparkSession, dir: String): String =
    built.get(spark, (dir, Snapshot.fingerprint(dir, "events.parquet"))) {
      val name = sessionTableName(spark)
      // driver-local scratch, but addressed through the Fs seam with a
      // fully qualified LOCATION: the identical DDL shape deploys
      // against any registered scheme (swap the root, nothing else)
      val root = ScratchDirs.create("graft_catalog_")
      val tableLoc = Fs.qualified(s"$root/events")
      val data = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
      data.write.partitionBy("event_date").parquet(tableLoc)
      // external-table DDL over the layout: schema declared (never
      // inferred — the Athena-table shape), partition column last
      val colDdl = data.schema.filterNot(_.name == "event_date")
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(
        s"CREATE TABLE $name ($colDdl, event_date DATE) USING PARQUET " +
          s"PARTITIONED BY (event_date) LOCATION '$tableLoc'")
      // the MSCK REPAIR / ALTER TABLE ADD PARTITION replacement: one
      // catalog-side listing, no per-batch DDL
      spark.catalog.recoverPartitions(name)
      (name, root)
    }._1

  // must stay identical to Web.engagement's range — the oracle is shared
  private val RangeStart = "2024-01-05"
  private val RangeEnd = "2024-01-20"

  /** `web_engagement` recomputed through the catalog: the range predicate
    * lands on the PARTITION column, so the catalog read prunes to the
    * 16 registered date partitions instead of scanning the table.
    */
  def engagementCatalogQuery(spark: SparkSession, dir: String): DataFrame =
    spark.table(registeredEvents(spark, dir))
      .filter(col("event_date").between(lit(RangeStart), lit(RangeEnd)))
      .groupBy(col("user_id"))
      .agg(
        unix_micros(min(col("ts"))).as("session_start_us"),
        unix_micros(max(col("ts"))).as("session_end_us"),
        count(lit(1)).as("total_events"),
        countDistinct(col("props")).as("unique_pages"),
        min(col("event_type")).as("entry_event"),
        max(col("event_type")).as("exit_event"))
      .withColumn("session_duration_sec",
        (col("session_end_us") - col("session_start_us")) / lit(1000000.0))
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "web_engagement_catalog" -> (engagementCatalogQuery _))

  val oracles: Map[String, String] = Map(
    // byte-for-byte the web_engagement oracle: same rows through the
    // catalog path proves the registration, not a new computation
    "web_engagement_catalog" ->
      s"""SELECT user_id,
         |  epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS session_start_us,
         |  epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS session_end_us,
         |  COUNT(*) AS total_events,
         |  COUNT(DISTINCT props) AS unique_pages,
         |  MIN(event_type) AS entry_event,
         |  MAX(event_type) AS exit_event,
         |  (epoch_us(MAX(CAST(ts AS TIMESTAMP))) - epoch_us(MIN(CAST(ts AS TIMESTAMP)))) / 1000000.0 AS session_duration_sec
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '$RangeStart' AND DATE '$RangeEnd'
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
