package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, JoinedRow,
  Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Entity resolution (record linkage): find records that denote the same
  * real-world entity despite textual drift — the master-data step every
  * enterprise warehouse runs before customer analytics (the reference's
  * CRM pipeline dedups on exact customer_id only; fuzzy identity is the
  * generalization it stops short of, and a training-data pipeline needs
  * the same operator to collapse author/site aliases).
  *
  * Scale shape (the part that matters at 100 TB):
  *
  *  - NEVER all-pairs. Candidates come from a BLOCKING key: records
  *    sharing a cheap deterministic key (name prefix, phonetic code,
  *    sorted-token prefix) are co-shuffled, and only within-block pairs
  *    are scored. Candidate volume is Σ_b |b|²/2 — linear in the corpus
  *    when block sizes are bounded, the same budget `basket_pairs` and
  *    the LSH dedup family run on. The blocking key is the recall knob:
  *    a true match split across two blocks is missed (classic
  *    multi-pass ER runs several keys and unions candidates — composing
  *    that here is just a `union` of `candidatePairs` calls).
  *  - `maxBlock` guards the skew failure mode: one degenerate key (an
  *    empty name, "UNKNOWN") would otherwise turn a bounded self-join
  *    quadratic. Oversized blocks are dropped whole — deterministic,
  *    and exactly replayable by the oracle's HAVING clause.
  *  - Scoring is per-candidate scan work (edit distance on short
  *    strings), so the expensive predicate runs on the bounded candidate
  *    set only, inside whole-stage codegen (`levenshtein` is a built-in
  *    expression; no UDF).
  *  - Clusters exploit the blocking invariant: edges never cross blocks,
  *    so connected components are block-local. `blockClusters` sends
  *    the records through ONE fixed-count hash exchange on the block key
  *    and then one pass per block: the size gate, the block's pairs, the
  *    match rule and the shared primitive-array [[UnionFind]]. No
  *    iterative min-label propagation, and no gate aggregate, semi join
  *    or self-join exchange either (the generic
  *    `Dedup.connectedComponents` remains the tool for unbounded graphs,
  *    and finishes small ones through the same [[UnionFind]]).
  *  - The match rule is stated once, as a Column over a candidate pair
  *    row (`erMatch`): the pair queries filter with it, and the block
  *    pass evaluates the same Column as a bound predicate.
  */
object Linkage {

  /** Within-block candidate pairs (id_a < id_b), blocks over `maxBlock`
    * dropped whole. Emits both records' payload columns prefixed a_/b_
    * for downstream scoring.
    */
  def candidatePairs(records: DataFrame, idCol: String, blockKey: Column,
                     payload: Seq[String], maxBlock: Int = 1000): DataFrame = {
    // NOTE (scale): the keyed projection feeds the size gate and both
    // join sides lazily — on a dim-sized table (the registered customer
    // queries) the repeated columnar scan is cheaper than materializing;
    // linking a FACT-scale table, cache/checkpoint `records` first so
    // the scan runs once.
    val keyed = records.select(
      (col(idCol).as("id") +: blockKey.as("bk") +:
        payload.map(c => col(c).as(c))): _*)
    // scalar (bk, n) shuffle first: the size gate must see block sizes
    // BEFORE any pair fan-out (same gate order as the df-capped dedup
    // index builders)
    val ok = keyed.groupBy(col("bk")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBlock).select(col("bk"))
    // shuffle_hash on the scalar block-list semi (round 20): the 160×
    // PlanDiag sweep caught THIS join flipping broadcast → SortMergeJoin
    // — sorting the full keyed frame (twice: both self-join branches
    // replay it) against a scalar probe side. Same class as the
    // shingle-list semis pinned in minhash/containment at r19.
    val inb = keyed.join(ok.hint("shuffle_hash"), Seq("bk"), "left_semi")
    val a = inb.select(
      (col("bk") +: col("id").as("id_a") +:
        payload.map(c => col(c).as(s"a_$c"))): _*)
    val b = inb.select(
      (col("bk") +: col("id").as("id_b") +:
        payload.map(c => col(c).as(s"b_$c"))): _*)
    // equi-join on the block key — the candidate generator is a plain
    // shuffled hash join, never a cartesian. shuffle_hash pinned (round
    // 20, 160× flip): the self-join's equal sides flipped to
    // SortMergeJoin on (bk + any pushed-in exact attributes), sorting
    // the keyed frame twice — the containment/minhash self-join
    // discipline applies: hash one side per partition, never sort, and
    // AQE still broadcasts when a side is runtime-small
    a.join(b.hint("shuffle_hash"), Seq("bk")).filter(col("id_a") < col("id_b"))
  }

  /** Sorted-neighborhood candidate pairs — the OTHER canonical ER
    * blocking: records sort globally on a key and each record pairs with
    * its next `w` neighbors in that order. Complements key blocking
    * exactly where it is weak: a typo in the blocking key's characters
    * exiles a record from its block FOREVER, while in sort order it
    * usually stays within a few positions. Candidate volume is n·w —
    * strictly linear, no block-size distribution to guard.
    *
    * Scale shape: the global order materializes as a RANK via the same
    * two-pass range-partitioned prefix count `Corpus.curriculum` uses
    * (pass 1 ships one row per partition to the driver; NEVER an
    * unpartitioned row_number window, which would plan SinglePartition).
    * Pairing is then an EQUI-join on the rank: the left side explodes
    * each record into its w successor positions (bounded fan-out w) and
    * joins rank-to-rank — one shuffle each side, hash join, no
    * range/theta condition anywhere.
    */
  def sortedNeighborhoodPairs(records: DataFrame, idCol: String, sortKey: Column,
                              payload: Seq[String], w: Int = 3): DataFrame = {
    require(w >= 1, "window w must be >= 1")
    val spark = records.sparkSession
    import spark.implicits._
    val keyed = records.select(
      (col(idCol).cast("long").as("id") +: sortKey.cast("string").as("sk") +:
        payload.map(c => col(c).cast("string").as(c))): _*)
    val n = payload.length
    val ds = keyed.map { r => (r.getLong(0), r.getString(1),
      (0 until n).map(i => r.getString(2 + i))) }
      .repartitionByRange(col("_2"), col("_1"))
      .sortWithinPartitions(col("_2"), col("_1"))
    val sorted = ds.rdd.localCheckpoint() // both passes read the sorted runs
    val (offs, _) = TwoPass.prefixAndTotal(sorted, 0L,
      (s: Long, _: (Long, String, IndexedSeq[String])) => s + 1, (a: Long, b: Long) => a + b)
    val ranked = sorted.mapPartitionsWithIndex { case (i, it) =>
      var r = offs(i)
      it.map { case (id, _, pay) => r += 1; (id, r, pay) }
    }.toDF("id", "rank", "pay")
    val a = ranked.select(
      (col("id").as("id_a") +: col("rank") +:
        (0 until n).map(i => col("pay")(i).as(s"a_${payload(i)}"))): _*)
      .withColumn("j", explode(lit((1 to w).toArray)))
      .withColumn("target", col("rank") + col("j")).drop("rank", "j")
    val b = ranked.select(
      (col("id").as("id_b") +: col("rank").as("target") +:
        (0 until n).map(i => col("pay")(i).as(s"b_${payload(i)}"))): _*)
    a.join(b, Seq("target")).drop("target")
  }

  /** Blocking key for the customer table: the name minus its last two
    * characters. Synthetic names are fixed-width, so blocks hold ≤ 100
    * records by construction — the bounded-block regime the operator is
    * designed for.
    */
  private def customerBlock: Column = expr("substring(c_name, 1, length(c_name) - 2)")

  private val ErMaxEdit = 1
  private val ErMaxBlock = 1000

  /** The record columns the customer match rule reads. */
  private val CustomerPayload = Seq("c_name", "c_mktsegment")

  /** Edit distance of the `name` column over a candidate pair row. */
  private def erEditDist(name: String): Column = levenshtein(col(s"a_$name"), col(s"b_$name"))

  /** THE ER match rule over a candidate pair row, whose columns carry
    * the two records' payload prefixed a_/b_: edit distance ≤ 1 on the
    * name AND market-segment agreement (the cheap exact attribute that
    * keeps near-identical names of genuinely different entities apart —
    * the standard match rule shape: fuzzy on the noisy field, exact on
    * the reliable one). A null on either field matches nothing. The
    * exact test comes first, so an evaluated pair (the block pass) skips
    * the edit distance of every cross-segment pair; a join pushes the
    * equality into its keys either way.
    */
  private[graft] def erMatch(name: String, seg: String): Column =
    col(s"a_$seg") === col(s"b_$seg") && erEditDist(name) <= ErMaxEdit

  /** Matched customer pairs: same block and [[erMatch]]. */
  def customerPairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(Tables.customer(spark, dir), "c_custkey", customerBlock,
        CustomerPayload, ErMaxBlock)
      .filter(erMatch("c_name", "c_mktsegment"))
      .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
        erEditDist("c_name").as("edit_dist"))
      .orderBy(col("custkey_a"), col("custkey_b"))

  /** Clusters of the records `rule` links within a block: `(id,
    * cluster_id)` per record in a multi-member cluster, cluster id = its
    * min member. Equal to [[candidatePairs]] (same gate), filtered by
    * `rule`, then connected components, in one exchange:
    *
    *  - the keyed records (`idCol` cast to long, the block key, the
    *    `payload` columns) take one hash exchange on the block key with
    *    `spark.sql.shuffle.partitions` partitions. A repartition to a
    *    fixed count is one AQE does not coalesce, so the scoring, the
    *    CPU-heavy part, runs on every core even when the records are a
    *    few KB;
    *  - each task groups its records by block, drops blocks over
    *    `maxBlock` records whole, and scores every pair (id_a < id_b) of
    *    a block with `rule`, a Column over the pair row `a_<payload>`,
    *    `b_<payload>` (the columns [[candidatePairs]] emits), resolved
    *    once on the driver and bound as a predicate;
    *  - the block's matched pairs fold through [[UnionFind]], so cluster
    *    ids are the min member, as in `Dedup.connectedComponents`.
    *
    * Records with a null block key or a null id pair with nothing (the
    * equi-join and `id_a < id_b` drop them too), though a null-id record
    * still counts toward its block's size. Block keys compare by value,
    * so they must be atomic (string, number, date). State per task is
    * its records and one block's edges in primitive arrays, the bound
    * the gate already enforces. This is the standard shape for
    * clustering under blocking at 100 TB: never iterate globally over a
    * graph the blocking key already partitioned.
    */
  def blockClusters(records: DataFrame, idCol: String, blockKey: Column,
                    payload: Seq[String], rule: Column, maxBlock: Int = 1000): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val keyed = records.select(
        (col(idCol).cast("long").as("id") +: blockKey.as("bk") +: payload.map(col)): _*)
      .filter(col("bk").isNotNull)
    val pay = StructType(keyed.schema.drop(2))
    val matches = boundPairRule(spark, pay, rule)
    keyed.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("bk"))
      .mapPartitions { rows =>
        val rule = Predicate.create(matches)
        rule.initialize(org.apache.spark.TaskContext.getPartitionId())
        val toPay = CatalystTypeConverters.createToCatalystConverter(pay)
        val blocks = scala.collection.mutable.HashMap[Any, ArrayBuffer[Row]]()
        rows.foreach(r => blocks.getOrElseUpdate(r.get(1), ArrayBuffer()) += r)
        val pair = new JoinedRow
        blocks.valuesIterator.filter(_.length <= maxBlock).flatMap { block =>
          val recs = block.filterNot(_.isNullAt(0)).sortBy(_.getLong(0))
          val ids = recs.map(_.getLong(0)).toArray
          val pays = recs.map(r =>
            toPay(Row.fromSeq(r.toSeq.drop(2))).asInstanceOf[InternalRow]).toArray
          val a, b = new scala.collection.mutable.ArrayBuilder.ofLong
          for (i <- ids.indices; j <- i + 1 until ids.length)
            if (ids(i) < ids(j) && rule.eval(pair(pays(i), pays(j)))) { a += ids(i); b += ids(j) }
          val (ms, roots) = UnionFind.components(Seq((a.result(), b.result())))
          ms.indices.iterator.map(k => (ms(k), roots(k)))
        }
      }
      .toDF("id", "cluster_id")
  }

  /** `rule` resolved over the pair row of `pay`'s columns, prefixed a_
    * then b_, and bound to that row's ordinals.
    */
  private def boundPairRule(spark: SparkSession, pay: StructType, rule: Column): Expression = {
    def side(p: String) = pay.fields.map(f => f.copy(name = s"${p}_${f.name}"))
    val pairs = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), StructType(side("a") ++ side("b")))
    pairs.select(rule.as("m")).queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), child) => BindReferences.bindReference(e, child.output)
      case other => throw new IllegalStateException(s"unexpected rule plan:\n$other")
    }
  }

  /** Entity clusters of the customer table (cluster id = min member
    * custkey); singletons excluded — the view is "which records need
    * merging", matching the text-side cluster queries.
    */
  private def customerClusterIds(spark: SparkSession, dir: String): DataFrame =
    blockClusters(Tables.customer(spark, dir), "c_custkey", customerBlock,
      CustomerPayload, erMatch("c_name", "c_mktsegment"), ErMaxBlock)

  def customerClusters(spark: SparkSession, dir: String): DataFrame =
    customerClusterIds(spark, dir)
      .select(col("id").as("custkey"), col("cluster_id"))
      .orderBy(col("custkey"))

  /** Cross-frame candidates: a PROBE batch against the at-rest MASTER —
    * the production linkage shape (tonight's arrivals vs the running
    * customer master), where a self-join would be wrong (arrivals must
    * not match each other here) and wasteful (the master side is
    * re-blocked, never re-paired). The skew gate sits on the master
    * side: it holds the accumulated history, so it is the side a
    * degenerate key inflates. Candidates are Σ_b |probe_b|·|master_b| —
    * linear in the probe for bounded master blocks. Both frames must
    * expose `idCol`, the blockKey's source columns, and `payload` under
    * the same names.
    */
  def candidatePairsAcross(probe: DataFrame, master: DataFrame, idCol: String,
                           blockKey: Column, payload: Seq[String],
                           maxBlock: Int = 1000): DataFrame = {
    val p = probe.select(
      (col(idCol).cast("long").as("id_a") +: blockKey.as("bk") +:
        payload.map(c => col(c).as(s"a_$c"))): _*)
    val m = master.select(
      (col(idCol).cast("long").as("id_b") +: blockKey.as("bk") +:
        payload.map(c => col(c).as(s"b_$c"))): _*)
    val ok = m.groupBy(col("bk")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBlock).select(col("bk"))
    // same two pins as candidatePairs (round 20): scalar semi + the
    // block equi-join — build side is the PROBE (arrival batch), the
    // side bounded by contract; the master side streams
    p.hint("shuffle_hash")
      .join(m.join(ok.hint("shuffle_hash"), Seq("bk"), "left_semi"), Seq("bk"))
  }

  /** Golden records (survivorship) over the matched clusters: one merged
    * master row per multi-member entity — the step after clustering in
    * every MDM pipeline. Every rule is order-independent (count, MIN_BY
    * on the unique custkey, MAX), so the merge is deterministic under
    * any partitioning; the segment is provably cluster-uniform because
    * segment equality is part of the (transitive) match rule.
    */
  def customerGoldenRecords(spark: SparkSession, dir: String): DataFrame = {
    val cl = customerClusterIds(spark, dir)
    // shuffle_hash on the cluster-membership side (round 19): PlanDiag
    // measured this join flipping broadcast → SortMergeJoin at 80× —
    // sorting the full customer table to attach attributes to the
    // (bounded: matched ids only) cluster frame. BuildLeft hash beats
    // sorting both; AQE still broadcasts cl when runtime-small
    cl.hint("shuffle_hash")
      .join(Tables.customer(spark, dir), col("id") === col("c_custkey"))
      .groupBy(col("cluster_id").as("master_custkey"))
      .agg(count(lit(1)).as("n_members"),
        min_by(col("c_name"), col("c_custkey")).as("canonical_name"),
        min(col("c_mktsegment")).as("mktsegment"),
        max(col("c_acctbal")).as("best_acctbal"))
      .orderBy(col("master_custkey"))
  }

  /** Incremental linkage: a deterministic arrival batch (typo'd twins of
    * every 40th customer — last name char replaced, so the twin stays in
    * its original's block at edit distance 1 — plus never-before-seen
    * prospects whose blocks exist nowhere in the master) matched against
    * the customer master through `candidatePairsAcross`. The twins rig
    * routes real recall through the gate: every twin must link to its
    * original (and only same-block, same-segment neighbors), every
    * prospect must link to nothing.
    */
  /** The deterministic arrival batch (twins + prospects) — shared by the
    * batch `er_incremental` query and the streaming replay
    * (`StreamReplay` / `MicroBatch.erIngestStream`), so the stream's
    * at-rest tables are gated by the SAME declarative oracle.
    */
  private[graft] def customerArrivals(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val twins = cust.filter(col("c_custkey") % 40 === 0)
      .select((col("c_custkey") + 10000000L).as("id"),
        concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")).as("name"),
        col("c_mktsegment").as("seg"))
    val prospects = cust.filter(col("c_custkey") % 40 === 1)
      .select((col("c_custkey") + 20000000L).as("id"),
        concat(lit("New Prospect "), col("c_custkey")).as("name"),
        col("c_mktsegment").as("seg"))
    twins.unionByName(prospects)
  }

  /** The customer master conformed to the linkage schema. */
  private[graft] def customerMaster(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_mktsegment").as("seg"))

  def customerIncremental(spark: SparkSession, dir: String): DataFrame = {
    candidatePairsAcross(customerArrivals(spark, dir), customerMaster(spark, dir), "id",
        expr("substring(name, 1, length(name) - 2)"), Seq("name", "seg"), ErMaxBlock)
      .filter(erMatch("name", "seg"))
      .select(col("id_a").as("new_id"), col("id_b").as("master_custkey"),
        erEditDist("name").as("edit_dist"))
      .orderBy(col("new_id"), col("master_custkey"))
  }

  /** Sorted-neighborhood matches over the name order (w = 3), same match
    * rule as the blocked path — the two candidate generators run the
    * same decision, so their agreement/divergence IS the recall
    * comparison multi-pass ER unions over.
    */
  def customerSnmPairs(spark: SparkSession, dir: String): DataFrame =
    sortedNeighborhoodPairs(Tables.customer(spark, dir), "c_custkey",
      col("c_name"), CustomerPayload, w = SnmW)
      .filter(erMatch("c_name", "c_mktsegment"))
      .select(col("id_a").as("custkey_a"), col("id_b").as("custkey_b"),
        erEditDist("c_name").as("edit_dist"))
      .orderBy(col("custkey_a"), col("custkey_b"))

  private val SnmW = 3

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_customer_pairs" -> (customerPairs _),
    "er_customer_snm" -> (customerSnmPairs _),
    "er_customer_clusters" -> (customerClusters _),
    "er_golden_records" -> (customerGoldenRecords _),
    "er_incremental" -> (customerIncremental _))

  private val pairsSql =
    s"""WITH k AS (SELECT c_custkey, c_name, c_mktsegment,
       |            substring(c_name, 1, length(c_name) - 2) AS bk
       |          FROM customer),
       |ok AS (SELECT bk FROM k GROUP BY bk HAVING COUNT(*) <= $ErMaxBlock),
       |inb AS (SELECT * FROM k WHERE bk IN (SELECT bk FROM ok)),
       |p AS (SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       |        levenshtein(a.c_name, b.c_name) AS edit_dist
       |      FROM inb a JOIN inb b ON a.bk = b.bk AND a.c_custkey < b.c_custkey
       |        AND a.c_mktsegment = b.c_mktsegment
       |      )
       |SELECT custkey_a, custkey_b, edit_dist FROM p
       |WHERE edit_dist <= $ErMaxEdit""".stripMargin

  val oracles: Map[String, String] = Map(
    "er_customer_pairs" ->
      s"""$pairsSql
         |ORDER BY custkey_a, custkey_b""".stripMargin,
    // the engine's two-pass rank stated as one ROW_NUMBER window; the
    // neighbor join is the w-banded rank predicate
    "er_customer_snm" ->
      s"""WITH r AS (SELECT c_custkey, c_name, c_mktsegment,
         |    ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
         |  FROM customer),
         |p AS (SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         |    levenshtein(a.c_name, b.c_name) AS edit_dist
         |  FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + $SnmW
         |    AND a.c_mktsegment = b.c_mktsegment)
         |SELECT custkey_a, custkey_b, edit_dist FROM p
         |WHERE edit_dist <= $ErMaxEdit
         |ORDER BY custkey_a, custkey_b""".stripMargin,
    // transitive closure over the matched pairs — same recursive-CTE
    // formulation the text/embedding cluster oracles use
    "er_customer_clusters" ->
      s"""$clustersSql
         |SELECT custkey, cluster_id FROM cl ORDER BY custkey""".stripMargin,
    // survivorship restated over the closure: every rule is a plain
    // order-independent aggregate (arg_min ≡ Spark's min_by on the
    // unique custkey)
    "er_golden_records" ->
      s"""$clustersSql
         |SELECT cl.cluster_id AS master_custkey,
         |  COUNT(*) AS n_members,
         |  arg_min(c.c_name, c.c_custkey) AS canonical_name,
         |  MIN(c.c_mktsegment) AS mktsegment,
         |  MAX(c.c_acctbal) AS best_acctbal
         |FROM cl JOIN customer c ON cl.custkey = c.c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // arrival batch replayed declaratively; the master-side block gate
    // is the HAVING, the match is the same levenshtein + segment rule
    "er_incremental" -> incrementalMatchesSql)

  /** Arrival-rig + block-join CTEs, shared by the batch `er_incremental`
    * oracle and the streaming replay gates (`stream_er_matches` is the
    * SAME answer built through `MicroBatch.erIngestStream`;
    * `stream_er_pending` is its complement).
    */
  private[graft] lazy val incrementalCtes =
    s"""WITH a AS (
       |  SELECT c_custkey + 10000000 AS id,
       |    substring(c_name, 1, length(c_name) - 1) || 'X' AS name,
       |    c_mktsegment AS seg
       |  FROM customer WHERE c_custkey % 40 = 0
       |  UNION ALL
       |  SELECT c_custkey + 20000000,
       |    'New Prospect ' || CAST(c_custkey AS VARCHAR), c_mktsegment
       |  FROM customer WHERE c_custkey % 40 = 1),
       |ab AS (SELECT id, name, seg, substring(name, 1, length(name) - 2) AS bk FROM a),
       |m AS (SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg,
       |        substring(c_name, 1, length(c_name) - 2) AS bk FROM customer),
       |ok AS (SELECT bk FROM m GROUP BY bk HAVING COUNT(*) <= $ErMaxBlock),
       |p AS (SELECT ab.id AS new_id, m.id AS master_custkey,
       |        levenshtein(ab.name, m.name) AS edit_dist
       |      FROM ab JOIN m ON ab.bk = m.bk AND ab.seg = m.seg
       |      WHERE m.bk IN (SELECT bk FROM ok))""".stripMargin

  private[graft] lazy val incrementalMatchesSql =
    s"""$incrementalCtes
       |SELECT new_id, master_custkey, edit_dist FROM p
       |WHERE edit_dist <= $ErMaxEdit
       |ORDER BY new_id, master_custkey""".stripMargin

  private[graft] lazy val incrementalPendingSql =
    s"""$incrementalCtes
       |SELECT id, name, seg FROM ab
       |WHERE id NOT IN (SELECT new_id FROM p WHERE edit_dist <= $ErMaxEdit)
       |ORDER BY id""".stripMargin

  /** The matched-pair closure as shared CTE prefix (clusters + golden). */
  private lazy val clustersSql =
    s"""WITH RECURSIVE p AS MATERIALIZED ($pairsSql),
       |e AS MATERIALIZED (SELECT custkey_a AS u, custkey_b AS v FROM p
       |     UNION SELECT custkey_b, custkey_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM e
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
       |cl AS (SELECT u AS custkey, least(u, MIN(v)) AS cluster_id
       |       FROM reach GROUP BY u)""".stripMargin
}
