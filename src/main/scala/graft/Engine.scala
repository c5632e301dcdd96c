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

  /** Entries in Spark's generated-class cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100). The cache is an LRU, and a cyclic pass
    * over more classes than an LRU holds misses on every one, so with
    * the default every JVM-warm pass recompiled all of its code, on the
    * driver and again inside the tasks. Measured working sets: 147
    * distinct classes for one curation pass, 133 for an ingest cycle,
    * 188 for a dashboard round, 1 904 for all registered queries at
    * sf0.01 (2 770 before `tune` took stage ids out of class names).
    * 4096 holds the whole registry with 2× headroom. A retained class
    * holds about 21 KB of heap (1 900 extra classes held: +40 MB), so the
    * registry's classes cost about 40 MB.
    */
  val CodegenCacheEntries = 4096

  /** Builds (or returns) the process's session with the engine's confs,
    * then applies [[tune]].
    *
    * The codegen cache size is a static conf and the cache is JVM-wide:
    * it is sized once, from the conf of the first session that generates
    * code. A session the engine did not build (the driver harness's, or
    * `getOrCreate` returning an existing one) keeps Spark's 100 entries;
    * only [[tune]]'s runtime confs reach it.
    */
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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
    * (e.g. the driver harness's). Idempotent. These reach every session
    * the engine reads through, but a session built elsewhere still has
    * its own codegen cache size (see [[session]]).
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
    // Identical pipelines planned at different whole-stage codegen ids
    // then generate identical source and share one cached class: one
    // pass over all registered queries at sf0.01 compiles 1 904 classes
    // instead of 2 770. Names only: results and plans are unchanged.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
  }
}
