package graft

import org.apache.spark.sql.SparkSession

/** Session factory + runtime tuning shared by every entry point.
  *
  * Mirrors the reference's Spark conf (AQE + coalescePartitions + skewJoin,
  * Kryo, snappy — ref inventory_transform.py:46-56) and pins UTC so outputs
  * are oracle-comparable. Designed for cluster scale: nothing here assumes
  * local mode except the default master.
  */
object Engine {

  def session(
      appName: String = "graft",
      master: String = "local[32]",
      shufflePartitions: Int = 32,
      warehouseDir: Option[String] = None): SparkSession = {
    val builder0 = SparkSession
      .builder()
      .master(master)
      .appName(appName)
    val spark = warehouseDir.fold(builder0)(d => builder0.config("spark.sql.warehouse.dir", d))
      // SQL functions for the custom kernels + the dot-product fusion rule
      // (plans.GraftExtensions); external sessions opt in with the same conf
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark
  }

  /** Drop every session-scoped memo the engine keeps for `spark` (each
    * `graft.store.SessionMemo`), releasing what the entries hold:
    * checkpoint blocks, scratch roots, catalog registrations. The memos
    * self-invalidate on source-table rewrites (fingerprint keys;
    * DedupSpec), so this exists for the remaining cases: reclaiming
    * block-manager and disk space mid-session, forcing a rebuild after an
    * in-place mutation the fingerprint cannot see, or timing a cold pass.
    */
  def clearCaches(spark: SparkSession): Unit = graft.store.SessionMemo.clearAll(spark)

  /** Runtime SQL confs that are safe to set on a session we did not build
    * (e.g. the driver harness's). Idempotent.
    */
  def tune(spark: SparkSession): Unit = {
    // The synthetic events table stores ts as parquet TIMESTAMP(NANOS),
    // which Spark's vectorized reader rejects; read it as Long nanos and
    // convert explicitly (Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Dynamic partition overwrite: lets Upsert rewrite only touched
    // partitions instead of the whole table (J4 emulation at scale).
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // Small input splits: the test tables are single small parquet files,
    // which the default 128 MB split turns into one-task scans — CPU-heavy
    // expression work (hashing, shingling, vector math) then runs on one
    // core. 4 MB splits parallelize those scans; on a real cluster the
    // inputs are many files/row-groups and this knob is neutral.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
  }
}
