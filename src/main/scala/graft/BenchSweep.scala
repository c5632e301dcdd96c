package graft

import org.apache.spark.sql.SparkSession

/** Helpers shared by the harness mains (`Bench`, `Verify`, `Profile`,
  * `HotBucketBench`): the session they all run on and the pieces of
  * their one-line JSON output.
  */
object BenchSweep {

  /** The harness session: `Engine.session` on `local[$SPARK_GRAFT_CPUS]`
    * with as many shuffle partitions, plus the `SPARK_GRAFT_CONF` overlay
    * ([[confOverlay]]), then a warm-up. Returns it with
    * `$SPARK_GRAFT_SF_DIR`.
    */
  private[graft] def buildSession(): (SparkSession, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val conf = confOverlay(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    val spark = Engine.session(master = s"local[$cpus]", shufflePartitions = cpus, conf = conf)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => () }
    (spark, sfDir)
  }

  /** `k=v;k2=v2` as conf pairs (a value may hold `=`; empty entries are
    * skipped). An entry without a key and `=` is rejected: dropping it
    * would measure a configuration other than the one asked for.
    */
  private[graft] def confOverlay(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entries must be key=value; got '$kv'")
      kv.take(i) -> kv.drop(i + 1)
    }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point number for the JSON line, Locale.ROOT: the f
    * interpolator formats through the JVM default locale, and a
    * comma-decimal locale (de_DE, fr_FR, …) would emit `12,3` — invalid
    * JSON on the one machine-read line these mains exist to produce.
    */
  def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", v.asInstanceOf[AnyRef])

  /** Host-instance marker shared by EVERY bench-artifact writer (Bench,
    * HotBucketBench, Profile): artifacts from different BOOTS of the
    * host are not comparable at face value (r19: a mid-round reboot
    * shifted every query 1.25-1.6×, proven on untouched
    * control queries). Stamping the boot epoch lets any cross-artifact
    * comparison detect an instance change mechanically instead of
    * inferring it from uniform drift. -1 = platform can't say (no
    * /proc/stat btime).
    */
  def bootEpoch: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines()
        .collectFirst { case l if l.startsWith("btime ") => l.drop(6).trim.toLong }
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
}
