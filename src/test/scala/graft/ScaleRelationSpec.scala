package graft

/** The row relations `Profile.ScaleTargets` declares, checked on
  * `ScaleBench.ensureScaled` points at k = 2 and 3 over sf0.001: a
  * linear query returns k·r₁ rows, a constant one r₁, where r₁ is its
  * count over the source. (The signflip-only `EmbedTargets` replicate
  * only under `SPARK_GRAFT_SCALE_EMB`; Profile checks them on its scale
  * records.)
  */
class ScaleRelationSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Rows at k = 1/2/3 of each query declared `rel` that misses it. */
  private def offRelation(rel: Profile.Relation): Seq[String] = {
    val qs = Profile.ScaleTargets.collect { case (q, r) if r == rel => q }
    assert(qs.nonEmpty)
    val scaled = Seq(2, 3).map(k => k -> ScaleBench.ensureScaled(spark, dir, k))
    try qs.flatMap { q =>
      val run = SparkEntry.queries(q)
      val r1 = run(spark, dir).count()
      val rk = scaled.map { case (k, d) => k -> run(spark, d).count() }
      val ok = r1 > 0 && rk.forall { case (k, n) => Profile.metamorphic(q, k, r1, n) == "ok" }
      if (ok) None else Some(s"$q ${(r1 +: rk.map(_._2)).mkString("/")}")
    } finally Engine.clearCaches(spark)
  }

  test("every declared-linear query returns k·r₁ rows at k = 2 and 3") {
    val off = offRelation(Profile.Linear)
    assert(off.isEmpty, s"not linear (rows at k = 1/2/3): ${off.mkString(", ")}")
  }

  test("every declared-constant query returns r₁ rows at k = 2 and 3") {
    val off = offRelation(Profile.Constant)
    assert(off.isEmpty, s"not constant (rows at k = 1/2/3): ${off.mkString(", ")}")
  }

  test("every scale query is registered, every exclusion has a cause, and metamorphic reads the declaration") {
    (Profile.ScaleTargets ++ Profile.EmbedTargets).foreach { case (q, rel) =>
      assert(SparkEntry.queries.contains(q), q)
      rel match {
        case Profile.Excluded(why) => assert(why.trim.nonEmpty, q)
        case _ =>
      }
    }
    assert(Profile.metamorphic("llm_dedup_exact", 3, 10, 30) == "ok")
    assert(Profile.metamorphic("llm_dedup_exact", 3, 10, 10) == "fail")
    assert(Profile.metamorphic("graph_pagerank", 3, 10, 10) == "ok")
    assert(Profile.metamorphic("graph_pagerank", 3, 10, 30) == "fail")
    assert(Profile.metamorphic("mm_image_neardup", 3, 10, 31) == "excluded")
    assert(Profile.metamorphic("sales_by_nation", 3, 10, 30) == "excluded")
  }
}
