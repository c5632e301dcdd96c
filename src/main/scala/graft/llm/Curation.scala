package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end training-data curation: the llm operators composed into the
  * pipeline an LLM data team actually runs. Fully lazy: every document is
  * annotated with the stage that eliminated it (or "kept") in ONE composed
  * plan — no eager per-stage counts, no recompute cascade; the attrition
  * report is a single aggregation over the same plan.
  *
  * Stages: normalize → language allowlist → quality floor → repetition
  * filter (Gopher-style duplicate-token fraction — scan-speed, no join)
  * → exact dedup (normalized-hash, keep lowest id) → MinHash-LSH
  * near-dup removal (greedy: for each verified pair, the higher id is
  * dropped — cheap and order-deterministic; `Dedup.connectedComponents`
  * can replace it when cluster-level canonicalization matters).
  *
  * The survivor frame (doc_id, norm_text, exact_keep — narrow: ids +
  * normalized text, no feature columns) feeds four downstream branches
  * (the LSH bucket-size count, the banded postings, the per-doc
  * `(id, sig, toks)` frame both verify sides read, the status join) and is
  * persisted MEMORY_AND_DISK: one feature scan serves all branches
  * (round-3 measurement: 2× faster than recompute-per-branch even after
  * the window-dedup restructure halved the recomputed passes; the r1/r2
  * "recompute wins" result was for checkpointing the pre-dedup subtree,
  * which still left the LSH branches recomputing; a lazy localCheckpoint
  * variant measured ~1 s/query slower — raw row blocks lose the columnar
  * compression and pruning of the cached relation). annotate has no
  * post-materialization hook to unpersist, so each call releases the
  * PREVIOUS call's frame instead: the cache footprint is bounded at one
  * survivor frame per session (the r3 version leaked one per call).
  * Consequence: materialize one annotate's branches before starting the
  * next — interleaving two un-materialized annotates demotes the older
  * one to recompute (correct, just uncached).
  */
object Curation {

  final case class Config(
      allowedLangs: Set[String] = Set("en"),
      minQuality: Double = 0.5,
      maxDupTokenFrac: Double = 0.7,
      nearDupJaccard: Double = 0.8)

  val Stages: Seq[String] =
    Seq("language_filter", "quality_filter", "repetition_filter",
      "exact_dedup", "near_dedup", "kept")

  // last survivor frame; swapped (and the old one released) per annotate
  private val lastSurvivor =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Each input doc + `status`: which stage eliminated it, or "kept". */
  def annotate(docs: DataFrame, config: Config = Config()): DataFrame = {
    val normText = Dedup.normText(col("text"))
    val scores = TextAnalysis.langStopwords.map { case (lang, words) =>
      lang -> TextAnalysis.stopwordHits(col("norm_text"), words)
    }
    val t = TextAnalysis.tokenCount(col("norm_text"))
    val stop = TextAnalysis.stopwordHits(col("norm_text"), TextAnalysis.langStopwords.head._2)
    val awl = length(col("norm_text")) / t

    // one-pass expression (kernel-tested ≡ the split/array_distinct form):
    // this subtree is recomputed per branch, so no token arrays per branch
    val dupFrac = Fingerprints.dupTokenFrac(col("norm_text"))

    val base = docs
      .withColumn("norm_text", normText)
      .withColumn("lang_ok",
        TextAnalysis.langPredict(scores).isin(config.allowedLangs.toSeq: _*))
      .withColumn("quality_ok", TextAnalysis.qualityScore(t, stop, awl) >= config.minQuality)
      .withColumn("rep_ok", dupFrac <= config.maxDupTokenFrac)

    // exact dedup via ONE window over the survivor subtree (lowest id per
    // normalized-content hash keeps) — the former groupBy+join-back form
    // embedded the survivor subtree TWICE in every downstream reference,
    // doubling the recomputed feature scans
    val hW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    val sv = base.filter(col("lang_ok") && col("quality_ok") && col("rep_ok"))
      .select(col("doc_id"), col("norm_text"))
      .withColumn("h", sha2(col("norm_text"), 256))
      .withColumn("exact_keep", row_number().over(hW) === 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // release the previous call's frame — UNLESS it is plan-identical to
    // this one: the CacheManager dedupes by sameResult, so "previous" and
    // "current" would share ONE cache entry and unpersisting the old
    // handle would evict the entry just registered (measured: every call
    // cold, worse than the leak). Same-input repeats stay warm on the
    // shared entry; different inputs release the old frame → footprint
    // bounded at one survivor frame per session.
    val prev = lastSurvivor.getAndSet(sv)
    if (prev != null &&
        !prev.queryExecution.analyzed.sameResult(sv.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    val exactSurvivors = sv.filter(col("exact_keep"))
      .select(col("doc_id"), col("norm_text"))
    // near-dup: LSH candidates over exact survivors → exact verify → drop high ids
    val nearDrop = Dedup.verifiedNearDups(exactSurvivors, "norm_text", "doc_id",
        config.nearDupJaccard)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("near_drop", lit(true))

    base
      .join(sv.select(col("doc_id"), col("exact_keep")), Seq("doc_id"), "left")
      .join(nearDrop, Seq("doc_id"), "left")
      .withColumn("status",
        when(!col("lang_ok"), "language_filter")
          .when(!col("quality_ok"), "quality_filter")
          .when(!col("rep_ok"), "repetition_filter")
          .when(col("exact_keep") === false, "exact_dedup")
          .when(col("near_drop").isNotNull, "near_dedup")
          .otherwise("kept"))
      .drop("norm_text", "lang_ok", "quality_ok", "rep_ok", "exact_keep", "near_drop")
  }

  /** The curated corpus (original columns only). */
  def curate(docs: DataFrame, config: Config = Config()): DataFrame =
    annotate(docs, config).filter(col("status") === "kept")
      .select(docs.columns.map(col): _*)

  /** Attrition report: docs eliminated per stage + kept, one aggregation. */
  def report(docs: DataFrame, config: Config = Config()): DataFrame =
    annotate(docs, config)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("status"))

  // ---- registered queries -------------------------------------------------

  /** Both registered queries are views over ONE annotated status frame
    * (doc_id, lang, n_chars, status — narrow), memoized per session and
    * documents-table fingerprint: the corpus survives curation once, then
    * the report is an aggregation over checkpointed rows instead of a
    * second full pipeline run. The library API (annotate/curate/report)
    * stays un-memoized — callers compose those over arbitrary frames.
    */
  private val statusCache = new graft.store.SessionMemo[(String, Long), DataFrame](
    1, (_, df) => graft.store.Checkpoints.free(df))

  private def statusFrame(spark: SparkSession, dir: String): DataFrame =
    statusCache.get(spark, (dir, graft.store.Snapshot.fingerprint(dir, "documents.parquet"))) {
      annotate(Tables.documents(spark, dir))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("status"))
        .localCheckpoint()
    }

  /** The curated corpus ids. Oracle-checked: every stage is ANSI-
    * expressible, and the LSH near-dup stage agrees with the oracle's
    * all-pairs form deterministically (at J ≥ 0.8 with est ≥ 0.5 prefilter
    * the per-pair miss probability is ≤ 1.3e-7 — Dedup.ngramJaccardQuery).
    */
  def curatedQuery(spark: SparkSession, dir: String): DataFrame =
    statusFrame(spark, dir).filter(col("status") === "kept")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Per-stage attrition (oracle-checked, same argument). */
  def reportQuery(spark: SparkSession, dir: String): DataFrame =
    statusFrame(spark, dir)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("status"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_curation" -> (curatedQuery _),
    "llm_curation_report" -> (reportQuery _))

  /** The full pipeline in DuckDB SQL: normalize → langid (stopword argmax,
    * en-first ties) → quality floor → repetition floor (duplicate-token
    * fraction) → exact dedup per normalized hash → all-pairs 3-gram
    * Jaccard near-dup drop (higher id) → status CASE with the same stage
    * precedence as annotate().
    */
  private val statusSql =
    """WITH n AS MATERIALIZED (
      |  SELECT doc_id, lang, n_chars,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt
      |  FROM documents),
      |feat AS MATERIALIZED (
      |  SELECT doc_id, lang, n_chars, nt,
      |    len(regexp_extract_all(nt, '\b(the|and|is|of|to)\b')) AS s_en,
      |    len(regexp_extract_all(nt, '\b(der|die|das|und|ist)\b')) AS s_de,
      |    len(regexp_extract_all(nt, '\b(el|los|las|es|y)\b')) AS s_es,
      |    len(regexp_extract_all(nt, '\b(le|les|des|est|et)\b')) AS s_fr,
      |    len(regexp_split_to_array(nt, '\s+')) AS t
      |  FROM n),
      |flags AS MATERIALIZED (
      |  SELECT *,
      |    (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |          WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |          WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = 'en' AS lang_ok,
      |    (0.4 * least(1.0, t / 100.0)
      |     + 0.3 * least(1.0, s_en * 10.0 / t)
      |     + 0.3 * (CASE WHEN (length(nt) / t) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)) >= 0.5 AS quality_ok,
      |    (1.0 - CAST(len(list_distinct(regexp_split_to_array(nt, '\s+'))) AS DOUBLE)
      |     / len(regexp_split_to_array(nt, '\s+'))) <= 0.7 AS rep_ok
      |  FROM feat),
      |exact_keep AS MATERIALIZED (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM flags WHERE lang_ok AND quality_ok AND rep_ok
      |  GROUP BY sha256(nt)),
      |sh AS MATERIALIZED (
      |  SELECT f.doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(string_split_regex(f.nt, '\s+')) - 2, 1)),
      |    i -> string_split_regex(f.nt, '\s+')[i] || ' ' ||
      |         string_split_regex(f.nt, '\s+')[i+1] || ' ' ||
      |         string_split_regex(f.nt, '\s+')[i+2])) AS s
      |  FROM flags f JOIN exact_keep k USING (doc_id)),
      |near_drop AS MATERIALIZED (
      |  SELECT DISTINCT b.doc_id
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      |status AS MATERIALIZED (
      |  SELECT f.doc_id, f.lang, f.n_chars,
      |    CASE WHEN NOT f.lang_ok THEN 'language_filter'
      |         WHEN NOT f.quality_ok THEN 'quality_filter'
      |         WHEN NOT f.rep_ok THEN 'repetition_filter'
      |         WHEN k.doc_id IS NULL THEN 'exact_dedup'
      |         WHEN d.doc_id IS NOT NULL THEN 'near_dedup'
      |         ELSE 'kept' END AS status
      |  FROM flags f
      |  LEFT JOIN exact_keep k USING (doc_id)
      |  LEFT JOIN near_drop d USING (doc_id))""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_curation" ->
      s"""$statusSql
         |SELECT doc_id, lang, n_chars FROM status
         |WHERE status = 'kept' ORDER BY doc_id""".stripMargin,
    "llm_curation_report" ->
      s"""$statusSql
         |SELECT status, COUNT(*) AS n_docs FROM status
         |GROUP BY status ORDER BY status""".stripMargin)
}
