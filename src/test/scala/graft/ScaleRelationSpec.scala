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

  test("each source keeps its own k× dir: scaling a second source leaves the first's marker and files untouched") {
    import graft.store.Fs
    def state(d: String) = Fs.listFilesRecursive(d).map(e => (e.path, e.len, e.mtime)).sortBy(_._1)
    val first = ScaleBench.ensureScaled(spark, dir, 2)
    val marker = Fs.readStringIfExists(s"$first/_SCALE_OK")
    val before = state(first)
    assert(marker.isDefined && before.nonEmpty)
    // the same tables at another path: another source fingerprint
    val src2 = java.nio.file.Files.createTempDirectory("scale_src2")
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).forEach(f =>
      java.nio.file.Files.copy(f, src2.resolve(f.getFileName)))
    val second = ScaleBench.ensureScaled(spark, src2.toString, 2)
    try {
      assert(second != first)
      assert(Fs.readStringIfExists(s"$second/_SCALE_OK").exists(!marker.contains(_)))
      assert(Fs.readStringIfExists(s"$first/_SCALE_OK") == marker)
      assert(state(first) == before, "the first source's k× files were rewritten")
      // and the first source's dir is still reused as built
      assert(ScaleBench.ensureScaled(spark, dir, 2) == first && state(first) == before)
    } finally {
      Fs.delete(new java.io.File(second).getParent)
      Fs.delete(src2.toString)
    }
  }
}
