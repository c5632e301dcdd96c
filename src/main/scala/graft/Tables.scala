package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's synthetic tables (TESTDATA.md).
  *
  * Each read takes its schema from one parquet footer on the driver
  * ([[footerSchema]]), so a read starts no Spark job; a plain
  * `spark.read.parquet` runs one distributed schema job per read even
  * when it touches a single footer. The one normalization applied is
  * the events.ts column, which the driver has shipped under different
  * physical types across rounds
  * (TIMESTAMP(NANOS) read as Long nanos; timestamp[us] read as
  * TIMESTAMP_NTZ). Both normalize to session-zone TimestampType micros,
  * which with the UTC session zone is exactly DuckDB's
  * `CAST(ts AS TIMESTAMP)` value.
  */
object Tables {

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    Engine.tune(spark)
    val p = path(sfDir, name)
    footerSchema(spark, p).fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
  }

  /** The schema `spark.read.parquet(path)` would infer, read on the driver
    * from the footer of `path` itself (a file) or of the first data file
    * directly under it (by name), through Spark's own footer conversion:
    * the Spark row-metadata key and the session's parquet confs
    * (`nanosAsLong` included) apply as in inference. None — so the caller
    * lets Spark infer — when schema merging is on, when the path is
    * missing, or when the directory holds no data file, a subdirectory
    * (partition columns) or a summary file (which inference would read
    * first). No cache: every read sees the files as they are.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) return None
    def summary(n: String) = n.startsWith("_metadata") || n.startsWith("_common_metadata")
    val dataFile: Option[String] =
      if (graft.store.Fs.isFile(path)) Some(path)
      else {
        val visible = graft.store.Fs.list(path).filter { e =>
          !(e.name.startsWith(".") || e.name.startsWith("_")) || summary(e.name)
        }
        if (visible.exists(e => e.isDir || summary(e.name))) None
        else visible.sortBy(_.name).headOption.map(_.path)
      }
    dataFile.map { f =>
      val file = new Path(f)
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
        new ParquetToSparkSchemaConverter(sqlConf))
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Normalize whatever physical type the scan produced for `ts` to
    * session-zone TimestampType micros. Long = legacy nanos epoch;
    * TIMESTAMP_NTZ casts by reinterpreting the wall clock in the session
    * zone (UTC), which preserves the stored instant. Any OTHER physical
    * type fails fast: the driver has changed this column's shape across
    * rounds, and a best-effort cast of an unanticipated shape (string,
    * int32 seconds, …) would be quietly wrong rather than loudly new.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unanticipated physical type $other; " +
          "extend Tables.normalizeTs/eventsInRange deliberately instead of best-effort casting")
    }

  /** events with ts normalized to TimestampType (micros). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(read(spark, sfDir, "events"))

  /** events filtered to [startDate, endDateInclusive] BEFORE the ts
    * normalization: the predicate lands on the raw scan column (bigint or
    * TIMESTAMP_NTZ), so it pushes into the parquet scan (a filter placed
    * above a cast cannot). On lake-written tables the same role is played
    * by partition pruning over the year/month/day/hour layout.
    */
  def eventsInRange(spark: SparkSession, sfDir: String,
                    startDate: String, endDateInclusive: String): DataFrame = {
    // Both bounds parse BEFORE splicing into any literal: a malformed
    // startDate fails here with a DateTimeParseException, not an opaque
    // analysis error from inside a TIMESTAMP literal.
    val start = java.time.LocalDate.parse(startDate)
    val endExclusive = java.time.LocalDate.parse(endDateInclusive).plusDays(1)
    val raw = read(spark, sfDir, "events")
    val filtered = raw.schema("ts").dataType match {
      case LongType =>
        def nanos(d: java.time.LocalDate): Long = d.toEpochDay * 86400L * 1000000000L
        raw.filter(col("ts") >= nanos(start) && col("ts") < nanos(endExclusive))
      case TimestampType =>
        raw.filter(col("ts") >= expr(s"TIMESTAMP '$start 00:00:00'") &&
          col("ts") < expr(s"TIMESTAMP '$endExclusive 00:00:00'"))
      case TimestampNTZType =>
        raw.filter(col("ts") >= expr(s"TIMESTAMP_NTZ '$start 00:00:00'") &&
          col("ts") < expr(s"TIMESTAMP_NTZ '$endExclusive 00:00:00'"))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unanticipated physical type $other; " +
          "extend Tables.normalizeTs/eventsInRange deliberately instead of best-effort casting")
    }
    normalizeTs(filtered)
  }
}
