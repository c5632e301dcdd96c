package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.Exact
import graft.validate.{Rule, Validators}

/** Cross-table analytics (SURVEY.md §2.6 J1 generalized, §2.9 T1-T2 batch
  * equivalents, §2.3 file-level validation as queries).
  *
  * Scale notes: the dimension sides (supplier, nation, customer) are orders
  * of magnitude smaller than the fact tables, so both joins here broadcast
  * the dim side explicitly — no shuffle of the fact table for the join, only
  * the final aggregation shuffle, which is map-side combined.
  */
object Analytics {

  /** Broadcast star join: lineitem ⋈ supplier ⋈ nation → revenue by nation. */
  def salesByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(nat("n_name").as("nation"))
      .agg(
        Exact.moneySum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"))
  }

  /** Customer spend by nation via `Skew.saltedJoin` when `saltFactor` is
    * set, else the plain equi-join — the pair exists so the salted plan
    * is exercised end-to-end against the oracle AND benched side by side
    * with its unsalted twin (salting's overhead: the small side is
    * replicated factor×, the big side's shuffle keys widen by the salt).
    * On uniform keys the salted plan only costs; it pays when one hot key
    * would otherwise pin a straggler task — the knob is per-pipeline.
    */
  def spendByNation(spark: SparkSession, dir: String, saltFactor: Option[Int]): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val cn = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("o_custkey"), col("n_name"))
    val joined = saltFactor match {
      case Some(f) => graft.store.Skew.saltedJoin(o, cn, Seq("o_custkey"), f)
      case None => o.join(cn, Seq("o_custkey"))
    }
    joined.groupBy(col("n_name").as("nation"))
      .agg(Exact.moneySum(col("o_totalprice")).as("spend"), count(lit(1)).as("n_orders"))
      .orderBy(col("nation"))
  }

  /** Top-k customers by spend: join + agg + global sort + limit (O1/O2). */
  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(c("c_custkey"), c("c_name"))
      .agg(Exact.moneySum(col("o_totalprice")).as("spend"))
      .orderBy(col("spend").desc, col("c_custkey"))
      .limit(10)
  }

  /** T1/T2 batch-equivalent of the streaming micro-batch job: tumbling
    * 1-hour windows per event_type (the streaming form is
    * stream/MicroBatch.scala; both share this aggregation shape).
    */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Exact.moneySum(col("value")).as("total_value"))
      .select(
        unix_micros(col("hour_ts")).as("hour_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("hour_us"), col("event_type"))

  /** P3/P4/P7/A13 — file-level validation summary over events (K8 shape). */
  def eventsSummary(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      Rule("null_event_id", col("event_id").isNotNull),
      Rule("null_user", col("user_id").isNotNull),
      Rule("blank_event_type", Validators.requiredNonBlank(col("event_type"))),
      Rule("null_ts", col("ts").isNotNull),
      Rule("negative_value", col("value") >= 0))
    Validators.fileSummary(Tables.events(spark, dir), rules)
  }

  /** Single-pass validation metrics via the `Observation` API: the
    * quality counters ride the SAME job that scans the data (here a
    * representative consumer pass over events) instead of costing their
    * own aggregation jobs — the production shape for "count the nulls
    * while the pipeline runs", vs `fileSummary`'s standalone audit
    * pass. The observed metrics are exact integer aggregates, so the
    * one-row result gates like any other query. Driver artifact is one
    * metrics row by construction.
    */
  def eventsObserved(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val consumed = Tables.events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_negative_value"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
    consumed.write.format("noop").mode("overwrite").save() // the consumer pass
    val row = obs.get
    import spark.implicits._
    Seq((row("n_rows").asInstanceOf[Long], row("n_null_user").asInstanceOf[Long],
      row("n_negative_value").asInstanceOf[Long], row("n_errors").asInstanceOf[Long]))
      .toDF("n_rows", "n_null_user", "n_negative_value", "n_errors")
  }

  /** ROLLUP aggregate (beyond the reference's flat GROUP BYs): order spend
    * by nation × year with subtotal and grand-total rows.
    */
  def salesRollup(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("yr", year(col("o_orderdate")))
      .rollup(col("n_name"), col("yr"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.moneySum(col("o_totalprice")).as("spend"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("yr"))
  }

  /** CUBE: all grouping-set combinations of (nation, year) — the rollup's
    * sibling for dashboards that slice both ways; one expand + one
    * shuffle, decimal-routed sums. Distinguishing a real null dimension
    * from a subtotal row is what `grouping()` flags are for (exported so
    * the oracle compare is unambiguous where n_name itself could be null).
    */
  def salesCube(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("yr", year(col("o_orderdate")))
      .cube(col("n_name"), col("yr"))
      .agg(
        grouping(col("n_name")).cast("int").as("g_nation"),
        grouping(col("yr")).cast("int").as("g_yr"),
        count(lit(1)).as("n_orders"),
        Exact.moneySum(col("o_totalprice")).as("spend"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("yr"),
        col("g_nation"), col("g_yr"))
  }

  /** Range-framed moving window: per event, the same user's event count
    * and exact value sum over the trailing hour — the W-family member
    * (frame specs) nothing else exercises. The frame is numeric over
    * epoch micros so the Spark and DuckDB frames are definitionally
    * identical; the sum is decimal-routed (frames hit peers in
    * nondeterministic order under range ties). Partitioned by user —
    * never a global-order window.
    */
  def eventsMovingHour(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-HourUs, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_trailing_1h", count(lit(1)).over(w))
      .withColumn("v_trailing_1h",
        round(sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 6))).over(w), 2).cast("double"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("n_trailing_1h"), col("v_trailing_1h"))
      .orderBy(col("event_id"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current event type) — the user-path /
    * funnel-discovery view (which action follows which). Scale shape:
    * the sequencing window is partitioned by user (never a global
    * sort — per-user state is the streaming-sessionization partitioning
    * reused batch-side), and everything after the lead() is an
    * aggregate over |event types|² cells, constant-sized regardless of
    * corpus scale. Ties inside one timestamp break on event_id, so the
    * sequence — and therefore the matrix — is deterministic under any
    * partitioning.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p", round(col("n_trans").cast("double") /
        sum(col("n_trans")).over(Window.partitionBy(col("from_type"))), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** NTILE deciles of customer spend WITHIN each nation — ntile needs a
    * total order over its partition, so the partition must be a real key
    * (a global-order ntile would plan SinglePartition — the window
    * anti-pattern at scale). Tie-broken by custkey: deterministic.
    */
  def nationSpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val spend = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(Exact.moneySum(col("o_totalprice")).as("spend"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("spend").desc, col("c_custkey"))
    spend.withColumn("decile", ntile(10).over(w))
      .orderBy(col("nation"), col("decile"), col("c_custkey"))
  }

  /** Approximate distinct counts (HLL sketch) — the 100 TB substitute for
    * countDistinct when exactness isn't needed. Raw sketch estimates are
    * engine-specific, so the result carries the EXACT counts plus a
    * within-tolerance flag per sketch (|approx − exact| ≤ max(15%·exact,
    * 16) — default rsd 0.05, 3σ = 15%; the floor absorbs integer jitter
    * at tiny cardinalities). The oracle asserts the exact columns AND
    * that both flags are 1, so the sketch's accuracy contract is
    * hash-gated every round instead of living only in a spec.
    */
  def approxUniques(spark: SparkSession, dir: String): DataFrame = {
    def withinTol(approx: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      (abs(approx - exact).cast("double") <=
        greatest(exact.cast("double") * lit(0.15), lit(16.0))).cast("int")
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("props")).as("exact_pages"),
        approx_count_distinct(col("user_id")).as("_au"),
        approx_count_distinct(col("props")).as("_ap"))
      .select(col("event_type"), col("exact_users"), col("exact_pages"),
        withinTol(col("_au"), col("exact_users")).as("users_within_tol"),
        withinTol(col("_ap"), col("exact_pages")).as("pages_within_tol"))
      .orderBy(col("event_type"))
  }

  /** The exact distinct counts the sketches approximate — split out of
    * `approxUniques` so they ARE oracle-checked (a mixed query forced the
    * whole row to rows-only, hiding the exact half from the gate).
    */
  def exactUniques(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("props")).as("exact_pages"))
      .orderBy(col("event_type"))

  /** Four-table broadcast star: revenue by region (region → nation →
    * supplier → lineitem; completes coverage of every synthetic table).
    */
  def salesByRegion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(reg("r_name").as("region"))
      .agg(
        Exact.moneySum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("region"))
  }

  /** Pivot: per-user event counts spread across event-type columns, with
    * EXPLICIT pivot values — the two-pass infer-values form adds a
    * distinct-scan job and makes the output schema data-dependent, both
    * wrong at 100 TB. With declared values this is one ordinary
    * map-side-combined aggregation whose oracle is plain conditional
    * SUMs. Decimal-routed value sums keep the wide columns exact.
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), EventTypes)
      .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("v"))
      .na.fill(0L, EventTypes.map(t => s"${t}_n"))
      .na.fill(0.0, EventTypes.map(t => s"${t}_v"))
      .orderBy(col("user_id"))

  /** FULL OUTER reconciliation between two entity universes (event
    * actors vs CRM customers) — the data-quality primitive behind "who
    * is in system A but not B": one full outer join on the key, both
    * null-sides classified, rolled up to status counts. The analytics
    * counterpart of the semi/anti pair (`customers_with(out)_orders`):
    * those answer one direction each; the full outer answers both plus
    * the intersection in a single pass.
    */
  def userReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val eventUsers = Tables.events(spark, dir).select(col("user_id")).distinct()
    val custKeys = Tables.customer(spark, dir)
      .select(col("c_custkey").as("cust_id")).distinct()
    eventUsers.join(custKeys, col("user_id") === col("cust_id"), "full")
      .select(when(col("user_id").isNotNull && col("cust_id").isNotNull, "both")
        .when(col("user_id").isNotNull, "events_only")
        .otherwise("customers_only").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** Trailing z-score anomaly detection over the daily revenue series —
    * in PURE INTEGER algebra so the verdicts replay bit-for-bit: with
    * trailing-week sums S1=Σx, S2=Σx² (dollars as BIGINT), the test
    * |x−μ| ≥ 3σ becomes (7x−S1)² ≥ 9·(7·S2−S1²) after clearing
    * denominators — no float mean, no sqrt, no rounding seam. Days
    * without a full 7-day history report false. Scale: one daily
    * aggregate (bounded by the calendar), one ordered window over it —
    * the window runs over days, never orders.
    */
  def salesAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"))
      .agg(expr("CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 0) AS BIGINT)").as("x"))
    anomaliesFromDaily(daily)
  }

  /** The detector over any (day BIGINT, x BIGINT) series. The ordered
    * window is calendar-bounded (one row per DAY, never per order), so
    * its single partition is metadata-scale by construction.
    */
  def anomaliesFromDaily(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    daily
      .withColumn("s1", sum(col("x")).over(w))
      .withColumn("s2", sum(col("x") * col("x")).over(w))
      .withColumn("cnt", count(col("x")).over(w))
      .select(col("day"), col("x").as("revenue"),
        (col("cnt") === 7 &&
          (lit(7) * col("x") - col("s1")) * (lit(7) * col("x") - col("s1")) >=
            lit(9) * (lit(7) * col("s2") - col("s1") * col("s1"))).as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Unpivot (melt): the wide per-type count columns back to long
    * (user_id, event_type, n_events) rows via the native `unpivot`
    * operator — the inverse of [[eventsPivot]], and the oracle states
    * the algebraic identity unpivot∘pivot ≡ groupBy directly (zero-count
    * cells, which pivot manufactures and groupBy never sees, are
    * filtered on the way back). Scale shape: unpivot is a per-row
    * explode-by-constant — no shuffle of its own; the plan is the pivot
    * aggregate plus a Generate.
    */
  def eventsUnpivot(spark: SparkSession, dir: String): DataFrame =
    eventsPivot(spark, dir)
      .unpivot(
        Array(col("user_id")),
        EventTypes.map(t => col(s"${t}_n")).toArray,
        "event_type", "n_events")
      .withColumn("event_type", regexp_replace(col("event_type"), "_n$", ""))
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"), col("event_type"))

  /** Cohort retention: users grouped by first-active day, each later
    * active day recorded as a (cohort_day, day_offset) cell with the
    * distinct-user count and the retention ratio against the cohort's
    * size — the day-N retention matrix every growth dashboard draws.
    * Shape: distinct (user, day) pairs → per-user min (one aggregate) →
    * join back on user_id → cell rollup; nothing wider than (user, day)
    * ever shuffles and no window is involved, so the plan scales with
    * active-user-days, not events. Day boundaries use integer division
    * of epoch micros (identical floor semantics in both engines).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    ud.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_users"), col("cohort_size"),
        round(col("n_users").cast("double") / col("cohort_size"), 6).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Market-basket co-occurrence: part pairs bought together in one
    * order, ranked by support — the association-mining primitive behind
    * "frequently bought together". The self-join is keyed on the order
    * (pair fan-out bounded by items-per-order squared, NOT corpus size),
    * ids-only columns shuffle, and the support floor prunes the long
    * tail before the global top-k (TakeOrdered, not a sort).
    */
  /** Lineitem row count per dir, memoized: sizes basketPairs' autoscaled
    * exchanges (a metadata-cheap COUNT job, paid once per session per
    * dir). Staleness after an in-place rewrite is benign — the value
    * only sizes exchanges, never results (the candEstCache argument).
    */
  private[graft] val liCountCache = new graft.store.SessionMemo[String, Long](256)

  /** Target rows per basket-pair exchange partition — the containment
    * family's calibrated ~0.2 GB/task byte budget at ids-only row width.
    */
  private val BasketRowsPerPartition = 500000L

  def basketPairs(spark: SparkSession, dir: String,
                  minSupport: Int = 2, topK: Int = 50): DataFrame = {
    // Shuffle-partition autoscaling (r21): the 40/80/160× curve measured
    // this query SUPERLINEAR (warm 8.0 → 18.2 → 45.5 s, exponent 1.25)
    // with exactly-linear output rows — an ENGINE bend, not data: every
    // exchange here inherited the session partition count, and AQE only
    // coalesces DOWN from it, so per-task join/dedup/aggregate volume
    // grew linearly until it outran the task memory envelope (the same
    // 32-partition ceiling ContainmentDiag caught on the containment
    // family in r19). Partition count now derives from the lineitem row
    // count (pair rows ≈ 1.3× lineitem rows at bounded basket size,
    // measured sf0.1; 2× headroom) — at bench SF the estimate stays
    // under the session default and the plan is unchanged.
    val liRows: Long = liCountCache.get(spark, dir)(Tables.lineitem(spark, dir).count())
    val sessionP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val autoP = math.min(Int.MaxValue.toLong,
      2L * liRows / BasketRowsPerPartition + 1).toInt
    // one exchange feeds dedup AND self-join (guide §2.4, r20 — same
    // move as Graph.coPurchaseEdges): repartition by the order key, let
    // the (orderkey, partkey) distinct run partition-local, and the
    // self-join is already co-partitioned
    val liBase = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val li = (if (autoP > sessionP) liBase.repartition(autoP, col("l_orderkey"))
              else liBase.repartition(col("l_orderkey")))
      .distinct()
    val a = li.toDF("l_orderkey", "p_a")
    val b = li.toDF("l_orderkey", "p_b")
    val pairs = a.join(b, Seq("l_orderkey"))
      .filter(col("p_a") < col("p_b"))
    val pre =
      if (autoP > sessionP) pairs.repartition(autoP, col("p_a"), col("p_b"))
      else pairs
    pre
      .groupBy(col("p_a"), col("p_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("p_a"), col("p_b"))
      .limit(topK)
  }

  /** RFM segmentation — recency / frequency / monetary quintile scores
    * per customer, the retail-standard customer-value grid (the
    * reference's loyalty aggregates are its simpler cousin). Metrics are
    * integer-exact (epoch-day recency, order count, decimal-summed
    * cents); each quintile cut is the smallest metric value whose
    * cumulative customer count reaches ⌈q·n/5⌉ (the histogram rule the
    * quantile queries use — ties share the lower score, both engines
    * agree bit-for-bit), and recency scores invert so MORE RECENT = 5.
    * The cut windows run over per-metric value histograms; recency and
    * frequency have trivially bounded cardinality, monetary is bounded
    * by distinct cent totals — coarsen its bins at 100 TB if customer
    * cardinality makes that histogram wide.
    */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(
        max(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")).as("last_day"),
        count(lit(1)).as("frequency"),
        round(Exact.moneySum(col("o_totalprice")) * lit(100.0), 0).cast("long")
          .as("monetary_cents"))
    val anchor = perCust.agg(max(col("last_day")).as("g"))
    val m = perCust.crossJoin(broadcast(anchor))
      .withColumn("recency_days", col("g") - col("last_day"))
      .localCheckpoint() // three cut scans + the scoring read
    def cuts(c: String) = {
      val h = m.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      val cum = h.withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col(c)).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = m.agg(count(lit(1)).as("n"))
      val cs = (1 to 4).map(q =>
        min(when(col("cum") >= ceil(col("n") * lit(q) / lit(5.0)), col(c))).as(s"${c}_t$q"))
      cum.crossJoin(broadcast(tot)).agg(cs.head, cs.tail: _*)
    }
    def score(c: String) =
      (1 to 4).map(q => when(col(c) > col(s"${c}_t$q"), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    m.crossJoin(broadcast(cuts("recency_days")))
      .crossJoin(broadcast(cuts("frequency")))
      .crossJoin(broadcast(cuts("monetary_cents")))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        (col("monetary_cents").cast("double") / lit(100.0)).as("monetary"),
        (lit(6) - score("recency_days")).as("r_score"),
        score("frequency").as("f_score"),
        score("monetary_cents").as("m_score"))
      .withColumn("rfm_cell",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy(col("c_custkey"))
  }

  /** J6-style semi/anti joins as first-class queries: customers with and
    * without any order (EXISTS / NOT EXISTS).
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  def customersWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_customers_with_orders"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_moving_1h" -> (eventsMovingHour _),
    "events_cohort_retention" -> (cohortRetention _),
    "rfm_scores" -> (rfmScores _),
    "basket_pairs" -> ((s: SparkSession, d: String) => basketPairs(s, d)),
    "nation_spend_deciles" -> (nationSpendDeciles _),
    "events_pivot" -> (eventsPivot _),
    "events_unpivot" -> (eventsUnpivot _),
    "user_reconciliation" -> (userReconciliation _),
    "sales_anomalies" -> (salesAnomalies _),
    "events_transitions" -> (eventTransitions _),
    "sales_cube" -> (salesCube _),
    "sales_by_region" -> (salesByRegion _),
    "customers_without_orders" -> (customersWithoutOrders _),
    "customers_with_orders" -> (customersWithOrders _),
    "stream_approx_uniques" -> (approxUniques _),
    "stream_exact_uniques" -> (exactUniques _),
    "skew_spend_salted" -> ((s: SparkSession, d: String) => spendByNation(s, d, Some(8))),
    "skew_spend_unsalted" -> ((s: SparkSession, d: String) => spendByNation(s, d, None)),
    "sales_rollup" -> (salesRollup _),
    "sales_by_nation" -> (salesByNation _),
    "top_customers" -> (topCustomers _),
    "stream_hourly_counts" -> (hourlyCounts _),
    "val_events_summary" -> (eventsSummary _),
    "val_events_observed" -> (eventsObserved _))

  private val SpendByNationSql =
    """SELECT n.n_name AS nation,
      |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS spend,
      |  COUNT(*) AS n_orders
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // pivot replica: conditional count/decimal-sum per declared event type
  private val pivotColsSql: String = EventTypes.map { t =>
    s"""  COUNT(*) FILTER (event_type = '$t') AS ${t}_n,
       |  COALESCE(CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) FILTER (event_type = '$t'), 2) AS DOUBLE), 0.0) AS ${t}_v""".stripMargin
  }.mkString(",\n")

  // one quintile-cut CTE per RFM metric: the same min-cum histogram rule
  // the engine computes, over (metric value, customer count) cells
  private def rfmCutSql(metric: String): String = {
    val ts = (1 to 4)
      .map(q => s"MIN(CASE WHEN cum >= ceil(n * $q / 5.0) THEN v END) AS ${metric}_t$q")
      .mkString(",\n|    ")
    s"""${metric}_cuts AS (
       |  SELECT $ts
       |  FROM (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum, SUM(cnt) OVER () AS n
       |        FROM (SELECT $metric AS v, COUNT(*) AS cnt FROM m GROUP BY 1)))""".stripMargin
  }

  private def rfmScoreSql(metric: String): String =
    "1 + " + (1 to 4)
      .map(q => s"(CASE WHEN $metric > ${metric}_t$q THEN 1 ELSE 0 END)")
      .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p_a, b.l_partkey AS p_b,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2
        |ORDER BY support DESC, p_a, p_b LIMIT 50""".stripMargin,
    "rfm_scores" ->
      s"""WITH pc AS MATERIALIZED (
         |  SELECT o_custkey AS c_custkey,
         |    MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS last_day,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    CAST(round(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) * 100.0, 0) AS BIGINT) AS monetary_cents
         |  FROM orders GROUP BY 1),
         |g AS (SELECT MAX(last_day) AS gmax FROM pc),
         |m AS MATERIALIZED (
         |  SELECT pc.c_custkey, pc.frequency, pc.monetary_cents,
         |    g.gmax - pc.last_day AS recency_days
         |  FROM pc CROSS JOIN g),
         |${rfmCutSql("recency_days")},
         |${rfmCutSql("frequency")},
         |${rfmCutSql("monetary_cents")}
         |SELECT m.c_custkey, CAST(m.recency_days AS BIGINT) AS recency_days,
         |  m.frequency,
         |  CAST(m.monetary_cents AS DOUBLE) / 100.0 AS monetary,
         |  6 - (${rfmScoreSql("recency_days")}) AS r_score,
         |  ${rfmScoreSql("frequency")} AS f_score,
         |  ${rfmScoreSql("monetary_cents")} AS m_score,
         |  (6 - (${rfmScoreSql("recency_days")})) * 100
         |    + (${rfmScoreSql("frequency")}) * 10
         |    + (${rfmScoreSql("monetary_cents")}) AS rfm_cell
         |FROM m CROSS JOIN recency_days_cuts CROSS JOIN frequency_cuts CROSS JOIN monetary_cents_cuts
         |ORDER BY m.c_custkey""".stripMargin,
    "events_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1),
        |sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
        |    COUNT(DISTINCT ud.user_id) AS n_users
        |  FROM ud JOIN cohort c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cells.cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
        |  CAST(n_users AS BIGINT) AS n_users, CAST(cohort_size AS BIGINT) AS cohort_size,
        |  round(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
        |FROM cells JOIN sizes USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "events_moving_1h" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |  FROM events)
        |SELECT event_id, user_id, ts_us,
        |  COUNT(*) OVER w AS n_trailing_1h,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) OVER w, 2) AS DOUBLE) AS v_trailing_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "nation_spend_deciles" ->
      """WITH spend AS (
        |  SELECT n.n_name AS nation, c.c_custkey,
        |    CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS spend
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, c_custkey, spend,
        |  CAST(NTILE(10) OVER (PARTITION BY nation
        |    ORDER BY spend DESC, c_custkey) AS INTEGER) AS decile
        |FROM spend
        |ORDER BY nation, decile, c_custkey""".stripMargin,
    "events_pivot" ->
      s"""SELECT user_id,
         |$pivotColsSql
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "user_reconciliation" ->
      """WITH eu AS (SELECT DISTINCT user_id FROM events),
        |ck AS (SELECT DISTINCT c_custkey AS cust_id FROM customer)
        |SELECT CASE WHEN user_id IS NOT NULL AND cust_id IS NOT NULL THEN 'both'
        |            WHEN user_id IS NOT NULL THEN 'events_only'
        |            ELSE 'customers_only' END AS status,
        |  COUNT(*) AS n
        |FROM eu FULL OUTER JOIN ck ON eu.user_id = ck.cust_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical integer algebra: (7x-S1)^2 >= 9*(7*S2-S1^2) over the
    // trailing-week sums — no float mean, no sqrt, no rounding seam
    "sales_anomalies" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 0) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |w AS (SELECT day, x,
        |  SUM(x) OVER tw AS s1, SUM(x*x) OVER tw AS s2, COUNT(x) OVER tw AS cnt
        |  FROM daily WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT day, x AS revenue,
        |  (cnt = 7 AND (7*x - s1) * (7*x - s1) >= 9 * (7*s2 - s1*s1)) AS is_anomaly
        |FROM w ORDER BY day""".stripMargin,
    // unpivot ∘ pivot ≡ groupBy — the oracle states the identity
    "events_unpivot" ->
      """SELECT user_id, event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sales_by_region" ->
      """SELECT r.r_name AS region,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "customers_with_orders" ->
      """SELECT COUNT(*) AS n_customers_with_orders FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "sales_cube" ->
      """SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
        |  CAST(GROUPING(n.n_name) AS INTEGER) AS g_nation,
        |  CAST(GROUPING(year(o.o_orderdate)) AS INTEGER) AS g_yr,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS spend
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY CUBE(n.n_name, year(o.o_orderdate))
        |ORDER BY n_name NULLS FIRST, yr NULLS FIRST, g_nation, g_yr""".stripMargin,
    "sales_rollup" ->
      """SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS spend
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP(n.n_name, year(o.o_orderdate))
        |ORDER BY n_name NULLS FIRST, yr NULLS FIRST""".stripMargin,
    "sales_by_nation" ->
      """SELECT n.n_name AS nation,
        |  CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "top_customers" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2 ORDER BY spend DESC, c_custkey LIMIT 10""".stripMargin,
    // one SQL, two plans: the salted join must be result-identical to the
    // plain equi-join it protects (salt is plumbing, never semantics)
    "skew_spend_salted" -> SpendByNationSql,
    "skew_spend_unsalted" -> SpendByNationSql,
    // the flags are literal 1s on the oracle side: the sketch MUST land
    // within tolerance of the declarative exact counts for the hash to
    // match — the accuracy contract itself is what's being gated
    "stream_approx_uniques" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(COUNT(DISTINCT props) AS BIGINT) AS exact_pages,
        |  CAST(1 AS INTEGER) AS users_within_tol,
        |  CAST(1 AS INTEGER) AS pages_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_exact_uniques" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(COUNT(DISTINCT props) AS BIGINT) AS exact_pages
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // sequence via the same (ts, event_id)-ordered per-user LEAD; the
    // probability is one IEEE double divide + round in both engines
    "events_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |  LEAD(event_type) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n_trans
        |      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  ROUND(CAST(n_trans AS DOUBLE) / SUM(n_trans) OVER (PARTITION BY from_type), 6) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    "stream_hourly_counts" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "val_events_summary" ->
      """SELECT COUNT(*) AS total_rows,
        |  CAST(SUM(CASE WHEN NOT COALESCE(event_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_null_event_id,
        |  CAST(SUM(CASE WHEN NOT COALESCE(user_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_null_user,
        |  CAST(SUM(CASE WHEN NOT COALESCE(event_type IS NOT NULL AND TRIM(event_type) <> '', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_blank_event_type,
        |  CAST(SUM(CASE WHEN NOT COALESCE(ts IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_null_ts,
        |  CAST(SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS viol_negative_value
        |FROM events""".stripMargin,
    // the declarative restatement of the observed metrics — identical
    // null semantics (a null comparison counts as not-matching)
    "val_events_observed" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
        |  CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_value,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        |FROM events""".stripMargin)
}
