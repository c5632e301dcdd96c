package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The k× derived datasets scaled runs read (`graft.Profile`'s scale
  * points, perfbench's curation corpus, `HotBucketBench`). A derived
  * dataset is generated at k× the source by DETERMINISTIC replication +
  * key remap (no new testdata): copy i offsets every key by i·10⁹ and
  * re-identifies content so copies do not interact — document text is
  * Caesar-shifted per copy (length-exact, so token structure, dup
  * graphs, shingle statistics replicate per copy with zero cross-copy
  * collisions) and customer names carry a per-copy prefix (ER blocks
  * replicate instead of inflating). The scaled corpus therefore has the
  * SAME statistical shape per copy, and a measured exponent isolates the
  * ENGINE's growth (shuffle sort costs, doubling rounds, candidate
  * volumes) from workload-shape drift. That is the honest scaling
  * question — "same data distribution, 10× the rows" — and also its
  * limit: hotspots that grow with corpus size (one giant LSH block, a
  * corpus-spanning duplicate family) are BOUNDED here by construction,
  * which is exactly what the caps/gates in those operators enforce in
  * production. The replication also fixes how most queries' row counts
  * follow k; `Profile.ScaleTargets` declares and checks that relation.
  */
object ScaleBench {

  private val Off = 1000000000L

  /** Per-copy content re-identification: an AFFINE letter cipher
    * x → (a·x + b) mod 26 with a coprime to 26 — a length-exact alphabet
    * permutation (token structure, shingle statistics, dup graphs
    * replicate per copy), with 12×26 = 312 pairwise-distinct maps, and
    * any two DISTINCT maps agree on at most 2 of the 26 letters, so
    * cross-copy shingle collisions stay negligible at every k ≤ 260.
    * (A first 40× attempt re-identified copies ≥ 26 by digits alone;
    * mostly-letter documents then collided cross-copy and the
    * containment row count exploded 17× — a data artifact, not engine
    * growth. The affine form closes that by construction.) Copies 0-25
    * use a = 1, i.e. exactly the r15 Caesar — curve points at k ≤ 26
    * stay content-identical and comparable. Digits additionally rotate
    * by copy/26 as a second independent marker, so copies 0-25 keep
    * their digits: the KNOWN cross-copy digit-shingle leak (~5% of
    * tokens shared by all ≤ 26 copies; those shingles' LSH buckets grow
    * with k, an O(k²) slice the df caps bound in production). A per-copy
    * digit rotation measured how much of a tail exponent that leak
    * explains (PERF.md, "One hypothesis tested and REFUTED") and was
    * not kept.
    */
  private val AffineA = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Embedding re-identification mode. Default (compat): copies carry
    * IDENTICAL embeddings — fine for the text/graph/ER curve families
    * (none reads the embedding column) but it makes every embedding
    * operator's output quadratic in k (k byte-identical copies of each
    * vector = C(k,2) true near-dup pairs each — corpus mass, not engine
    * growth; the hot-bucket artifact shows it). SPARK_GRAFT_SCALE_EMB=
    * signflip multiplies copy i's embedding by a deterministic per-copy
    * ±1 pattern (hash of (copy, dim)): intra-copy dot products —
    * norms, cosines, every kNN/cluster/near-dup answer — are EXACTLY
    * preserved (⟨s⊙a, s⊙b⟩ = ⟨a, b⟩) while cross-copy cosines collapse
    * toward 0 (random-sign dampening), so copies replicate structure
    * without interacting: the same premise the text side's affine
    * cipher provides. Copy 0 is the identity pattern — 1× stays
    * byte-identical to the source. Separate derived dirs (x{k}sfe).
    */
  private[graft] def embSignFlip: Boolean =
    sys.env.get("SPARK_GRAFT_SCALE_EMB").contains("signflip")

  private def reidentifyEmbedding(emb: org.apache.spark.sql.Column, copy: Int) =
    if (!embSignFlip || copy == 0) emb
    else transform(emb, (x, d) =>
      (x * when(pmod(xxhash64(lit(copy), d), lit(2)) === 0, 1.0f).otherwise(-1.0f))
        .cast("float"))

  private def caesar(c: org.apache.spark.sql.Column, copy: Int) = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val hi = lo.toUpperCase
    val dg = "0123456789"
    val a = AffineA((copy / 26) % AffineA.length)
    val b = copy % 26
    val d = (copy / 26) % 10
    if (a == 1 && b == 0 && d == 0) c
    else {
      val mapLo = (0 until 26).map(x => lo((a * x + b) % 26)).mkString
      translate(c, lo + hi + dg,
        mapLo + mapLo.toUpperCase + dg.drop(d) + dg.take(d))
    }
  }

  /** Build (or reuse) the k× derived dir. Deterministic: content is a
    * pure function of (source fingerprint, k), recorded in a marker so
    * reruns and testdata rewrites rebuild exactly when needed. The dir is
    * `graft_scale/<fingerprint>/x<k>` under `java.io.tmpdir`: each source
    * keeps its own k× dirs, so scaling another source (the suite's
    * sf0.001 next to an sf0.1 profile) never deletes them, and a rewrite
    * of the source builds beside the stale dir.
    */
  def ensureScaled(spark: SparkSession, srcDir: String, k: Int): String = {
    require(k >= 1 && k <= 260,
      "1 <= k <= 260 (affine letter maps must stay pairwise distinct)")
    val mode = if (embSignFlip) "sfe" else ""
    val fp = Seq("lineitem", "orders", "customer", "documents", "embeddings",
        "events", "part", "supplier", "nation", "region")
      .map(t => graft.store.Snapshot.fingerprint(srcDir, s"$t.parquet"))
      .foldLeft(17L)((a, b) => a * 1000003L ^ b)
    val dest = s"${sys.props("java.io.tmpdir")}/graft_scale/" +
      s"${java.lang.Long.toHexString(fp)}/x$k$mode"
    val marker = s"$dest/_SCALE_OK"
    // /v2: content-function version — bumping it invalidates dirs built
    // by an older transform (the digit-only 40× attempt above)
    val want = s"$fp/$k/v2$mode"
    if (graft.store.Fs.readStringIfExists(marker).contains(want)) return dest
    graft.store.Fs.delete(dest)
    def copies(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.read(spark, srcDir, name)
      (0 until k).map(i => remap(base, i)).reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$dest/$name.parquet")
    }
    def off(c: String, i: Int)(df: DataFrame) =
      df.withColumn(c, col(c) + lit(i * Off))
    copies("documents") { (df, i) =>
      off("doc_id", i)(df).withColumn("text", caesar(col("text"), i))
    }
    copies("customer") { (df, i) =>
      off("c_custkey", i)(df)
        .withColumn("c_name", concat(lit(s"c${i}_"), col("c_name")))
    }
    copies("lineitem") { (df, i) =>
      off("l_orderkey", i)(off("l_partkey", i)(off("l_suppkey", i)(df)))
    }
    copies("orders") { (df, i) => off("o_orderkey", i)(off("o_custkey", i)(df)) }
    copies("part") { (df, i) => off("p_partkey", i)(df) }
    copies("supplier") { (df, i) => off("s_suppkey", i)(df) }
    copies("events") { (df, i) => off("event_id", i)(off("user_id", i)(df)) }
    copies("embeddings") { (df, i) =>
      off("vec_id", i)(df)
        .withColumn("embedding", reidentifyEmbedding(col("embedding"), i))
    }
    Seq("nation", "region").foreach { t =>
      Tables.read(spark, srcDir, t)
        .write.mode(SaveMode.Overwrite).parquet(s"$dest/$t.parquet")
    }
    graft.store.Fs.writeStringAtomic(marker, want)
    dest
  }
}
