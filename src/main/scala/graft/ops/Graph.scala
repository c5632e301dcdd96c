package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the co-purchase graph (parts are nodes; an edge
  * joins two parts that ever share an order — the graph behind
  * `basket_pairs`' pair mining). Two classic distributed-graph
  * operators, both oracle-gated:
  *
  *  - triangle counting with DEGREE ORIENTATION: each undirected edge
  *    points from its lower-(degree, id) endpoint to the higher one, so
  *    wedge enumeration fans out from the LOW-degree vertex of every
  *    edge — the standard trick that bounds the join's per-key fan-out
  *    by O(√m) on any graph and keeps hub vertices from exploding the
  *    shuffle (a raw wedge join fans out quadratically in the hub
  *    degree; orientation caps every vertex's out-degree).
  *  - PageRank in integer FIXED-POINT arithmetic: ranks are scaled
  *    BIGINTs and every step is floor division + integer sums, so the
  *    result is bit-identical under any partitioning / summation order
  *    — which is what makes a 5-iteration power method hash-gateable
  *    against an unrolled DuckDB CTE chain (the same quantization
  *    discipline as the k-means / perplexity oracles).
  *
  * Scale shape: edges build from one distinct + one self-equi-join on
  * orderkey (Σ basket² pairs, linear at bounded basket size); each
  * PageRank iteration is one hash join on the node key + one partial-
  * aggregated sum — the textbook Pregel round expressed declaratively,
  * with nothing driver-side and no collect anywhere.
  */
object Graph {

  private val Scale = 1000000L // fixed-point 1.0
  private val Iterations = 5

  /** Registered queries run on the part-sampled subgraph (every 4th
    * part): the full co-purchase graph at sf0.1 already carries 1.2M
    * edges with Σdeg² ≈ 3·10⁸ — a wedge population that makes the
    * correctness artifact needlessly heavy, exactly like dumping every
    * suffix of every document would. Sampling NODES keeps the induced
    * subgraph's structure (edges between sampled parts survive intact);
    * the operators themselves take any edge frame.
    */
  private val PartSampleMod = 4

  /** Canonical undirected co-purchase edges (a < b), deduplicated.
    *
    * One exchange feeds both the dedup and the self-join (guide §2.4,
    * r20): the scan is repartitioned by the ORDER key first, so the
    * (o, p) distinct rides that exchange as a partition-local aggregate
    * (HashPartitioning(o) satisfies the (o, p) clustering) and the
    * self-join on o is already co-partitioned — where distinct-then-join
    * paid a second full exchange of the line items. AQE still coalesces
    * the keyless-count repartition, so the layout stays scale-adaptive.
    */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(pmod(col("l_partkey"), lit(PartSampleMod)) === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o"))
      .distinct()
    li.toDF("o", "a").join(li.toDF("o", "b"), Seq("o"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Exact triangle count via degree-oriented wedge join.
    *
    * Deliberately UNHINTED (r20): forcing shuffle_hash on the degree
    * joins and the wedge-closing semi benched slower at sf0.1 (it blocks
    * the broadcasts AQE picks there), and every non-self join here has a
    * node- or edge-scaled side — UNBOUNDED, outside the
    * bounded-build-side rule the repo's shuffle_hash pins follow. At
    * scale these degrade to SMJ, the correct strategy for
    * equal-unbounded sides.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // materialization points (r21, guide §2.4/§5): the edge frame feeds
    // directed (×2 union branches) and `oriented` feeds FOUR downstream
    // plan paths (both wedge sides, both closing-union branches) — fully
    // inlined, the sf0.1 static plan carried 48 parquet scans and 93
    // exchanges of the same replicated subtrees
    // (plans/r21/graph_triangles_before.txt). AQE's stage reuse dedups
    // only identical exchanges inside one execution, and the planner /
    // codegen still pay the full tree. Lazy localCheckpoints collapse
    // the edge build and the oriented frame to one materialization each,
    // under the consumer's own action (no extra jobs); blocks are
    // GC-freed with the frame, the repo's convention for query-lifetime
    // scratch.
    val e = edges.localCheckpoint(false)
    val directed = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = directed.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // orient: u -> v iff (d(u), u) < (d(v), v); every undirected edge
    // keeps exactly one direction
    val oriented = directed
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      .localCheckpoint(false)
    // wedges from the shared LOW vertex, closed by an oriented edge
    val wedges = oriented.toDF("u", "x")
      .join(oriented.toDF("u", "y"), Seq("u"))
      .filter(col("x") < col("y"))
    wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y"))
        .unionByName(oriented.select(col("v").as("x"), col("u").as("y"))),
        Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Fixed-point PageRank (damping 0.85, [[Iterations]] rounds):
    * rank'(v) = 0.15·Scale + ⌊85·Σ_{u→v} ⌊rank(u)/deg(u)⌋ / 100⌋, all
    * BIGINT. Every node of the edge set has degree ≥ 1 and the mirrored
    * edge frame gives every node an in-edge, so contribs covers ALL
    * nodes each round by induction — the old per-iteration deg LEFT join
    * (+ coalesce) was a no-op re-keying and is gone (r20, guide §2.4);
    * the oracle's LEFT JOIN agrees bit-for-bit because its right side is
    * never null on this edge set.
    */
  def pageRank(edges: DataFrame): DataFrame = {
    // one edge build, not three (r21): directed0 is referenced by BOTH
    // eager checkpoints below (deg, directed), and eager checkpoints are
    // separate executions — cross-job exchange reuse does not exist, so
    // the un-checkpointed edge build ran once per checkpoint plus once
    // per union branch. The lazy checkpoint materializes it under the
    // deg build and the directed build reads its blocks.
    val e = edges.localCheckpoint(false)
    val directed0 = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = directed0.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // out-degree rides the edge frame: one static join hoisted out of
    // the loop instead of re-planned every round.
    // MEASURED AND KEPT AS-IS (r20): caching this frame partitioned by u
    // with shuffle_hash-pinned ranks (the CC-loop recipe) removes the
    // per-iteration edge exchange at cluster scale, but benched 0.5-1.8 s
    // SLOWER here at every cache partition count tried — the stacked
    // 5-layer plan lets AQE broadcast the node-sized ranks each layer,
    // which already streams this frame exchange-free at bench scale, and
    // the ranks side is UNBOUNDED (node-scaled), outside the
    // bounded-build-side pin rule the other shuffle_hash pins follow.
    val directed = directed0.join(deg, Seq("u"))
      .localCheckpoint() // every iteration reads the same frame
    var ranks = deg.select(col("u").as("v"), lit(Scale).as("r"))
    for (_ <- 1 to Iterations) {
      val contribs = directed
        .join(ranks.select(col("v").as("u"), col("r")), Seq("u"))
        .select(col("v"), expr("r div d").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("c"))
      // no re-attach join: the mirrored edge frame gives EVERY node an
      // in-edge and ranks covers every node by induction, so contribs
      // already carries all nodes — the old deg LEFT join (one node-sized
      // join + exchange per iteration) was a no-op re-keying (r20)
      ranks = contribs.select(col("v"),
        (lit(15L * Scale / 100) + expr("(85 * c) div 100")).as("r"))
      // no per-iteration checkpoint: five stacked join+agg layers over
      // the two base frames plan fine, and skipping the materializations
      // saves ~0.5 s/round at bench scale
    }
    // materialize the node-sized result, then release the edge-frame
    // checkpoints — the returned frame must not pin them.
    // Checkpoints.free, not bare unpersist (r21): unpersist only clears
    // CacheManager entries, and these frames hold LOCALCHECKPOINT blocks
    // (LogicalRDD leaves) that bare unpersist never touched
    val out = ranks.localCheckpoint()
    graft.store.Checkpoints.free(directed, deg, e)
    out
  }

  // ---- registered queries -------------------------------------------------

  def trianglesQuery(spark: SparkSession, dir: String): DataFrame =
    triangleCount(coPurchaseEdges(spark, dir))

  def pageRankQuery(spark: SparkSession, dir: String): DataFrame =
    pageRank(coPurchaseEdges(spark, dir))
      .orderBy(col("r").desc, col("v"))
      .limit(20)
      .select(col("v").as("part"), col("r").as("rank_fp"))

  /** Connected components of the co-purchase graph — the graph-ops
    * view of the SAME min-label-propagation operator the near-dup
    * clusters use (`Dedup.connectedComponents`): product families that
    * co-sell transitively. One more consumer of the shared iterative
    * kernel, against a much denser edge set than the dedup graphs.
    */
  def componentsQuery(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.connectedComponents(
      coPurchaseEdges(spark, dir).select(col("a").as("id_a"), col("b").as("id_b")))
      .select(col("id").as("part"), col("cluster_id").as("component_id"))
      .orderBy(col("part"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> (trianglesQuery _),
    "graph_pagerank" -> (pageRankQuery _),
    "graph_components" -> (componentsQuery _))

  private val edgesSql =
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |      WHERE l_partkey % 4 = 0),
      |e AS (SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
      |      GROUP BY 1, 2),
      |directed AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u, COUNT(*) AS d FROM directed GROUP BY u)""".stripMargin

  private def iterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT dd.u AS v,
       |    CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
       |  FROM deg dd LEFT JOIN (
       |    SELECT di.v, SUM(p.r // g.d) AS c
       |    FROM directed di
       |    JOIN $prev p ON p.v = di.u
       |    JOIN deg g ON g.u = di.u
       |    GROUP BY di.v) s ON s.v = dd.u)""".stripMargin

  val oracles: Map[String, String] = Map(
    // recursive transitive closure; component id = min reachable node
    "graph_components" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |      WHERE l_partkey % 4 = 0),
        |ed AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT a AS u, b AS v FROM ed UNION SELECT b, a FROM ed),
        |reach(u, v) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
        |SELECT u AS part, least(u, MIN(v)) AS component_id
        |FROM reach GROUP BY u ORDER BY part""".stripMargin,
    "graph_triangles" ->
      s"""$edgesSql
         |SELECT COUNT(*) AS n_triangles
         |FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,
    "graph_pagerank" -> {
      val chain = (1 to Iterations)
        .map(i => iterSql(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
        .mkString(",\n")
      s"""$edgesSql,
         |r0 AS (SELECT u AS v, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$chain
         |SELECT v AS part, r AS rank_fp FROM r$Iterations
         |ORDER BY r DESC, v LIMIT 20""".stripMargin
    })
}
