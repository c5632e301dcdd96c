package graft

/** Writes `.explain("formatted")` output for registered queries to files —
  * the round-20 plan-evidence deliverable (`plans/r20/<query>_<tag>.txt`).
  * Usage: SPARK_GRAFT_PLAN_QUERY=q1,q2 SPARK_GRAFT_PLAN_TAG=before \
  *        SPARK_GRAFT_PLAN_OUT=plans/r20 sbt "runMain graft.PlanDump"
  * Unlike PlanDiag (scaled-dir join-flip sweeps) this dumps the FULL
  * formatted plan at the bench SF, one file per query, for judge review.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = BenchSweep.buildSession()
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r20")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val qnames = sys.env.getOrElse("SPARK_GRAFT_PLAN_QUERY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // pseudo-queries exposing loop-internal plans the registered frames
    // hide behind per-round checkpoints (PlanDiag's lazyPlans seam): the
    // CC round plan as graph_components / llm_embed_clusters run it
    // pseudo-queries return the plan frame PLUS the base frames to free
    // after the dump (persisted edge cache + localCheckpoints — leaked
    // blocks otherwise, r20 advice #6)
    val pseudo: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame])] = Map(
      "cc_round_components" -> ((s, d) => graft.llm.Dedup.ccRoundPlan(
        graft.ops.Graph.coPurchaseEdges(s, d)
          .select(org.apache.spark.sql.functions.col("a").as("id_a"),
            org.apache.spark.sql.functions.col("b").as("id_b")))),
      // the corpus-SA cross-doc stages, as llm_cross_doc_max / _spans run
      // them (the registered frames checkpoint eagerly, hiding the LCP /
      // adjacent-pair joins from the query tail — PlanDiag's seam)
      "cross_doc_lp" -> ((s, d) => {
        val (seq, plan) = graft.llm.CorpusSuffix.crossDocMaxPlanQuery(s, d)
        (plan, Seq(seq))
      }),
      "cross_doc_adjacent" -> ((s, d) => {
        val (seq, plan) = graft.llm.CorpusSuffix.crossDocSpansPlanQuery(s, d)
        (plan, Seq(seq))
      }))
    val registered = SparkEntry.queries
    val unknown = qnames.filterNot(q => registered.contains(q) || pseudo.contains(q))
    require(qnames.nonEmpty && unknown.isEmpty,
      s"SPARK_GRAFT_PLAN_QUERY must list registered queries; unknown: ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qnames.foreach { q =>
      val (df, toFree) = pseudo.get(q) match {
        case Some(fn) => fn(spark, sfDir)
        case None => (registered(q)(spark, sfDir),
          Seq.empty[org.apache.spark.sql.DataFrame])
      }
      // "formatted" via the same API explain("formatted") prints through,
      // captured instead of printed
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$tag.txt"), txt)
      graft.store.Checkpoints.free(toFree: _*)
      println(s"[plandump] wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
