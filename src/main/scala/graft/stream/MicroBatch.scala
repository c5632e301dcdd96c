package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.store.{FileLedger, Lake}

/** Structured Streaming ingestion (SURVEY.md §2.9 T1–T7).
  *
  * The reference's Kinesis→Lambda micro-batch chain collapses into one
  * Structured Streaming job: a file source (the stand-in for Kinesis; no
  * connector jar ships here) → the same batch transform functions →
  * `foreachBatch` writing partitioned parquet + quarantine, exactly the
  * reference's per-batch layout (transformation.py:131-168). Batch and
  * streaming share one code path: any `DataFrame => (clean, rejected)`
  * transform plugs into both.
  *
  * Semantics preserved from the reference (T3/T5): no watermark or
  * event-time state needed for parity (append-only), at-least-once via
  * checkpointed foreachBatch, malformed records quarantined, never dropped.
  */
object MicroBatch {

  /** JSONL directory stream → validate/clean → partitioned append + DLQ.
    * `transform` returns (clean-with-tsCol, rejected).
    */
  def ingest(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      transform: DataFrame => (DataFrame, DataFrame),
      tsCol: String,
      processedDir: String,
      quarantineDir: String,
      checkpointDir: String,
      triggerMs: Long = 1000L): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16) // micro-batch sizing (T1)
      .json(inputDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (clean, rejected) = transform(batch)
        // no emptiness probe on the partitioned side: the dynamic-partition
        // writer opens no file for empty input. The unpartitioned
        // quarantine write would leave an empty part file, so it keeps one.
        Lake.appendPartitioned(clean, tsCol, processedDir)
        if (!rejected.isEmpty) Lake.quarantine(rejected, quarantineDir)
        ()
      }
      .start()
  }

  /** Streaming corpus ingest with the cross-snapshot dedup gates — the
    * crawl-ingest loop of a training-data pipeline: each micro-batch is
    * (1) exact-deduped within itself (lowest id per normalized hash),
    * (2) exact-anti-joined against the AT-REST corpus, (3) near-dup
    * gated against it (`Dedup.incrementalNearDups` — LSH batch×corpus
    * join + Jaccard verify), and only then appended. The corpus is
    * re-read per batch, so later batches automatically dedup against
    * everything earlier ones committed. At-least-once like every
    * foreachBatch sink here: a replayed batch re-appends only rows the
    * first attempt failed to commit IF its append died mid-write —
    * the dedup gates themselves make a full replay a no-op, since the
    * replayed rows now match the corpus exactly.
    */
  def corpusIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      textCol: String,
      idCol: String,
      corpusDir: String,
      checkpointDir: String,
      minJaccard: Double = 0.8,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.llm.Dedup
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        if (!batch0.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_ch")).orderBy(col(idCol))
          val batch = batch0
            .withColumn("_ch", Dedup.normHash(col(textCol)))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          val fresh =
            if (!graft.store.Fs.exists(corpusDir)) batch.drop("_ch")
            else {
              // schema-pinned: the corpus holds exactly the landing
              // columns (written from batch minus _ch), and a crashed
              // first append can leave the dir existing but DATALESS —
              // a schema-less read would then throw on every restart
              // (the visibleLedgered wedge class); with the declared
              // schema it reads as empty and the gates no-op.
              // Trade-off (applies to every pinned gate read here): a
              // corpus written under a DIFFERENT landing schema now
              // reads its missing columns as null instead of failing
              // resolution — schema migrations must conform or rewrite
              // the table first, the same declared-schema contract the
              // landing read itself imposes.
              val corpus = spark.read.schema(schema).parquet(corpusDir)
              val notExact = batch.join(
                  corpus.select(Dedup.normHash(col(textCol)).as("_ch")).distinct(),
                  Seq("_ch"), "left_anti")
                .drop("_ch")
              val nearDrop = Dedup.incrementalNearDups(
                notExact, corpus, textCol, idCol, minJaccard = minJaccard)
              notExact.join(nearDrop.withColumnRenamed("drop_id", idCol),
                Seq(idCol), "left_anti")
            }
          if (!fresh.isEmpty) fresh.write.mode("append").parquet(corpusDir)
        }
        ()
      }
      .start()
  }

  /** Quality-gated corpus ingest: the Gopher rule ensemble decides per
    * micro-batch which landing documents enter the training corpus and
    * which land in quarantine WITH their per-rule verdicts (so a data
    * curator can see WHICH rule rejected — the audit trail the batch
    * query `llm_gopher_filter` produces, running at ingest time).
    *
    * Delivery: at-least-once checkpointed foreachBatch; the corpus side
    * is made effectively-once by anti-joining the batch's ids against
    * the corpus before appending (a replayed batch re-finds its rows and
    * appends nothing — the `corpusIngestStream`/`annIngestStream`
    * guard). The quarantine side is a DLQ: replays may duplicate there,
    * which is the standard at-least-once DLQ contract (`Lake.dlq`).
    */
  def qualityGatedIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      textCol: String,
      idCol: String,
      corpusDir: String,
      rejectDir: String,
      checkpointDir: String,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.llm.TextAnalysis
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ruleCols = Seq("r_len", "r_awl", "r_stop", "r_dup", "pass")
          val judged = batch.join(
            TextAnalysis.gopherFilter(batch, textCol, idCol)
              .select(col(idCol) +: ruleCols.map(col): _*),
            Seq(idCol))
          val accepted0 = judged.filter(col("pass") === 1).drop(ruleCols: _*)
          val accepted =
            if (!graft.store.Fs.exists(corpusDir)) accepted0
            else accepted0.join(
              // id-only declared schema: dataless dir (crashed first
              // append) reads empty instead of wedging on inference
              spark.read.schema(StructType(schema.fields.filter(_.name == idCol)))
                .parquet(corpusDir).select(col(idCol)).distinct(),
              Seq(idCol), "left_anti")
          if (!accepted.isEmpty) accepted.write.mode("append").parquet(corpusDir)
          val rejected = judged.filter(col("pass") === 0).drop("pass")
          if (!rejected.isEmpty) graft.store.Lake.quarantine(rejected, rejectDir)
        }
        ()
      }
      .start()
  }

  /** Streaming record linkage against a GOVERNED master: arrival records
    * landing as JSON block-join the seeded master snapshot per
    * micro-batch (`Linkage.candidatePairsAcross` + the levenshtein /
    * exact-attribute match rule); matches append to the link table,
    * unmatched arrivals queue in a pending area for stewardship review.
    * Arrivals deliberately do NOT join the matching master: linking
    * against the governed snapshot keeps every verdict a pure
    * per-record function of (arrival, master), so the at-rest tables
    * are batching-invariant AND replay-invariant — letting arrivals
    * match earlier arrivals would make the link set depend on trigger
    * boundaries (and is the stewardship decision, not the pipeline's).
    * Replay guard: per-id anti-join against both at-rest tables, the
    * same discipline as `corpusIngestStream`.
    */
  def erIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      masterDir: String,
      matchesDir: String,
      pendingDir: String,
      checkpointDir: String,
      maxBlock: Int = 1000,
      maxEdit: Int = 1,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.ops.Linkage
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val master = spark.read.parquet(masterDir)
          // checkpointed: the match set feeds the link append AND the
          // pending anti-join — without it the block join runs twice
          val matched = Linkage.candidatePairsAcross(batch, master, "id",
              expr("substring(name, 1, length(name) - 2)"), Seq("name", "seg"),
              maxBlock)
            .withColumn("edit_dist", levenshtein(col("a_name"), col("b_name")))
            .filter(col("edit_dist") <= maxEdit && col("a_seg") === col("b_seg"))
            .select(col("id_a").as("new_id"), col("id_b").as("master_custkey"),
              col("edit_dist"))
            .localCheckpoint()
          // both replay-guard reads are schema-pinned to the single id
          // column they need: a crashed first append can leave either
          // dir existing but DATALESS, and a schema-less read would
          // then throw on every restart (the visibleLedgered wedge
          // class); the declared schema reads empty instead
          val freshMatches =
            if (!graft.store.Fs.exists(matchesDir)) matched
            else matched.join(
              // new_id is LongType REGARDLESS of the caller's id field:
              // candidatePairsAcross casts the id to long, and matches
              // are written from that cast — pinning to the landing
              // schema's id type here would MISMATCH the parquet files
              // for any non-Long id deployment
              spark.read.schema(StructType(Seq(StructField("new_id", LongType))))
                .parquet(matchesDir).select(col("new_id")).distinct(),
              Seq("new_id"), "left_anti")
          if (!freshMatches.isEmpty)
            freshMatches.write.mode("append").parquet(matchesDir)
          val pending0 = batch.join(
            matched.select(col("new_id").as("id")).distinct(), Seq("id"), "left_anti")
          val pending =
            if (!graft.store.Fs.exists(pendingDir)) pending0
            else pending0.join(
              spark.read.schema(StructType(schema.fields.filter(_.name == "id")))
                .parquet(pendingDir).select(col("id")).distinct(),
              Seq("id"), "left_anti")
          if (!pending.isEmpty) pending.write.mode("append").parquet(pendingDir)
          graft.store.Checkpoints.free(matched)
        }
        ()
      }
      .start()
  }

  /** Streaming SCD2 maintenance: dimension-change events landing as JSON
    * are folded into the Type-2 history table per micro-batch, then a
    * versioned pointer flip (`Versioned.overwrite`) so concurrent readers
    * always see a consistent history snapshot — never a missing or
    * half-swapped path. The history lives at `tableDir` in the versioned
    * layout; read it with `Versioned.read(spark, tableDir)`.
    *
    * The batch folds in ONE change-point window pass, equivalent to
    * applying `Upsert.scd2Apply` once per distinct `effective_day`
    * ascending (the form this stream shipped with): each key's guarded
    * events union its open version (ordered by day — the guard makes the
    * open row strictly first), consecutive equal attribute tuples
    * collapse (equality chains are transitive, so lag-compare IS the
    * fold's no-op rule), and each kept row closes at the key's next kept
    * day. Per-day granularity is therefore independent of trigger
    * boundaries: a batch carrying a key's day-5 AND day-7 changes
    * records BOTH versions, each stamped with its own day — a single
    * batch-max apply would collapse them to one misdated row and then
    * mis-drop later legitimate updates via the guard. Unlike the
    * sequential per-day apply loop, the window form's cost does NOT grow
    * with days-per-batch (the loop materialized the full history once
    * per day — a driver-paced chain that made the replay build the
    * suite's most expensive artifact; StreamingSpec pins the two forms
    * agree on the multi-day fixtures).
    *
    * Replay-safe WITHOUT a ledger, against BOTH failure shapes: an
    * identical redelivered batch matches as all-no-ops (the change-point
    * collapse drops every event equal to the open version), and a STALE
    * redelivered batch (old changes replayed after newer ones landed) is
    * dropped by the per-key monotonic guard: an update applies only if
    * ITS OWN effective_day is newer than that key's open `valid_from`.
    * In-batch, days ascend through the window order, so later days build
    * on the versions earlier days opened — the same evolution the
    * sequential fold walked. Updates are deduplicated per (key, day)
    * within the batch before applying.
    */
  def scd2IngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      keyCol: String,
      compareCols: Seq[String],
      tableDir: String,
      checkpointDir: String,
      triggerMs: Long = 500L,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    import graft.store.Versioned
    // a history dir from the pre-versioned in-place layout becomes
    // v_00000001 before the stream starts; otherwise the first batch's
    // `exists` check is false and the fold silently restarts from empty
    Versioned.adoptLegacy(tableDir)
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import org.apache.spark.sql.expressions.Window
          // one row per (key, day): the same key changing on several days
          // within a batch must land as several versions, not collapse
          val w = Window
            .partitionBy(col(keyCol), col("effective_day"))
            .orderBy(col("effective_day").desc)
          val perDay = batch
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          val current =
            if (Versioned.exists(tableDir)) Versioned.read(spark, tableDir)
            else perDay.select((keyCol +: compareCols).map(col): _*).limit(0)
              .withColumn("valid_from", lit(0L))
              .withColumn("valid_to", lit(null).cast("long"))
          val outCols = current.columns
          val open = current.filter(col("valid_to").isNull)
          val closed = current.filter(col("valid_to").isNotNull)
          // per-key monotonic guard vs the PRE-batch open version: an
          // event at or before its key's open valid_from is stale and
          // never applies. (Guarded in-batch events all land strictly
          // after the open row in day order, so the window below needs
          // no further guard — later days see earlier days' versions
          // through the change-point collapse itself.)
          val guarded = perDay
            .join(open.select(col(keyCol), col("valid_from").as("_open_from")),
              Seq(keyCol), "left")
            .filter(col("_open_from").isNull ||
              col("effective_day") > col("_open_from"))
            .select((col(keyCol) +: compareCols.map(col)
              :+ col("effective_day").as("_day")): _*)
          if (!guarded.isEmpty) {
            // the open version participates as its key's day-(valid_from)
            // event; events equal to their predecessor collapse (the
            // fold's no-op rule — transitive, so lag-compare suffices),
            // and each survivor closes at the key's next survivor's day
            val evs = open
              .select((col(keyCol) +: compareCols.map(col)
                :+ col("valid_from").as("_day")): _*)
              .unionByName(guarded)
            val ord = Window.partitionBy(col(keyCol)).orderBy(col("_day"))
            val changes = evs
              .select(evs.columns.map(col) ++ compareCols.map(c =>
                lag(col(c), 1).over(ord).as(s"_prev_$c")) :+
                lag(col("_day"), 1).over(ord).as("_prev_day"): _*)
              .filter(col("_prev_day").isNull ||
                !compareCols.map(c => col(c) <=> col(s"_prev_$c")).reduce(_ && _))
            val hist = changes
              .withColumn("valid_from", col("_day"))
              .withColumn("valid_to", lead(col("_day"), 1).over(ord))
              .select(outCols.map(col): _*)
            // versioned flip (not the two-move in-place swap): downstream
            // dimension readers may resolve the history at ANY instant —
            // they see the pre- or post-batch snapshot, never a missing path
            Versioned.overwrite(closed.unionByName(hist), tableDir)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming triangle-count maintenance (incremental view
    * maintenance over a growing graph): lineitem rows land basket-
    * sliced (an order's items arrive together), each batch derives its
    * co-purchase edges, and the at-rest triangle COUNTER advances by
    * exactly the triangles the batch's genuinely-new edges close —
    * never a recount. The delta joins each new edge (a,b) with the
    * adjacency of the union graph to find common neighbors c, and
    * counts each new triangle ONCE by attributing it to its
    * lexicographically smallest new edge (a triangle closing with 2 or
    * 3 new edges would otherwise be counted 2 or 3 times): the edges
    * (a,c)/(b,c) may each be old or new, and a new one only passes if
    * it is canonically larger than (a,b).
    *
    * Replay safety splits by artifact: edge rows append WITH their
    * source-file tag (hive-partitioned by it), and the ledger + counter
    * flip in ONE versioned snapshot (the mgIngestStream pattern). The
    * union graph reads only edges whose tag is LEDGERED (plus the
    * batch's own), so rows orphaned by a crash between append and flip
    * are invisible until their file replays — the counter is
    * exactly-once under any redelivery, and the replay REPLACES the
    * orphan partition (dynamic partition overwrite) rather than
    * appending a duplicate. The ledger check excludes the COMPLEMENT
    * (unledgered orphans, bounded by one crashed batch) rather than
    * IN-listing every applied file, so the filter expression stays O(1)
    * as the stream ages and orphan partitions prune at the scan. The
    * ledger itself is compacted behind a high-watermark (`FileLedger`),
    * so the per-batch snapshot collect and rewrite are bounded by the
    * open frontier, not stream age. Scale: the delta is |E_new| ×
    * avg-degree join work, the counter never rescans the graph, and the
    * edge table is append-only.
    *
    * An edge table from before the hive-partitioned layout (src_file as
    * a plain data column, part files at the dir root) is migrated in
    * place at stream start (`Lake.migrateFlatPartitions`) — resuming
    * over a flat table would otherwise mix the two layouts and leave
    * src_file null for the root-level rows, silently breaking the
    * ledger complement filter.
    */
  def triangleIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      edgesDir: String,
      stateDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L,
      compactLedger: Boolean = true): StreamingQuery = {
    import graft.store.Versioned
    graft.store.Lake.migrateFlatPartitions(spark, edgesDir, "src_file")
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import spark.implicits._
          val snap =
            if (Versioned.exists(stateDir))
              Versioned.read(spark, stateDir)
                .collect().map(r => (r.getAs[String]("kind"),
                  r.getAs[String]("key"), r.getAs[Long]("n")))
            else Array.empty[(String, String, Long)]
          val ledger = FileLedger.fromRows(snap)
          val storedCount = snap.collectFirst { case ("cnt", _, n) => n }.getOrElse(0L)
          val files = batch.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).sorted
          val freshFiles = files.filterNot(ledger.applied)
          if (freshFiles.nonEmpty) {
            dropFreshOrphans(edgesDir, freshFiles)
            val rows =
              if (freshFiles.length == files.length) batch
              else batch.filter(input_file_name().isInCollection(freshFiles.toIndexedSeq))
            // canonical batch edges, tagged by the file their ORDER came
            // from (baskets land whole, so the tag is well-defined)
            val li = rows.select(col("o"), col("p"), input_file_name().as("src_file")).distinct()
            val batchEdges = li.select(col("o"), col("p").as("a"), col("src_file"))
              .join(li.select(col("o"), col("p").as("b")), Seq("o"))
              .filter(col("a") < col("b"))
              .select(col("a"), col("b"), col("src_file")).distinct()
              .localCheckpoint()
            // Ledger enforcement without plan growth: the edge table is
            // hive-partitioned by src_file, and instead of IN(applied) —
            // a literal list that grows by one per landed file for the
            // stream's whole lifetime — we exclude the COMPLEMENT: files
            // present in the edge table but absent from the ledger. Such
            // orphans exist only after a crash between the edge append
            // and the snapshot flip, so the set is bounded by one batch
            // (almost always empty → no filter at all), the plan stays
            // O(1) in stream age, and when non-empty the NOT IN lands in
            // the scan's PartitionFilters — orphan files prune at the
            // directory level rather than being read and discarded.
            // partition visibility is a driver-side hive-dir listing
            // (no Spark job): ledger complement + consolidation rule
            val oldEdges =
              visibleLedgered(spark, edgesDir, snap)
                .map(_.select(col("a"), col("b")).distinct())
                .getOrElse(spark.emptyDataset[(Long, Long)].toDF("a", "b"))
                .localCheckpoint()
            val newEdges = batchEdges.select(col("a"), col("b")).distinct()
              .join(oldEdges, Seq("a", "b"), "left_anti")
              .localCheckpoint()
            val delta = {
              val all = oldEdges.withColumn("is_new", lit(false))
                .unionByName(newEdges.withColumn("is_new", lit(true)))
              val adj = all.select(col("a").as("u"), col("b").as("v"), col("is_new"))
                .unionByName(all.select(col("b").as("u"), col("a").as("v"), col("is_new")))
              val e = struct(col("a"), col("b"))
              newEdges
                .join(adj.select(col("u").as("a"), col("v").as("c"), col("is_new").as("n1")), Seq("a"))
                .join(adj.select(col("u").as("b"), col("v").as("c"), col("is_new").as("n2")), Seq("b", "c"))
                .filter(!col("n1") ||
                  struct(least(col("a"), col("c")), greatest(col("a"), col("c"))) > e)
                .filter(!col("n2") ||
                  struct(least(col("b"), col("c")), greatest(col("b"), col("c"))) > e)
                .count()
            }
            // dynamic partition overwrite: a fresh file's partitions are
            // either absent (normal) or a crashed batch's orphan — the
            // deterministic replay REPLACES the orphan instead of
            // appending a second copy, so duplicates never exist at rest
            if (!newEdges.isEmpty)
              batchEdges.join(newEdges, Seq("a", "b"), "left_semi")
                .write.partitionBy("src_file")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite").parquet(edgesDir)
            val stateRows =
              Seq(("cnt", "", storedCount + delta)) ++
                snap.collect { case r @ ("retired", _, _) => r } ++
                FileLedger.toRows(
                  if (compactLedger) FileLedger.compact(ledger, freshFiles.toSet,
                    FileLedger.landedBasenames(landingDir))
                  else FileLedger.State(ledger.hwm, ledger.files ++ freshFiles))
            Versioned.overwrite(stateRows.toDF("kind", "key", "n"), stateDir)
            graft.store.Checkpoints.free(batchEdges, oldEdges, newEdges)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming media-scene-index maintenance: AVI payloads land base64
    * in JSONL micro-batches (the shape a media crawl hands off — opaque
    * bytes plus an id); each batch demuxes its clips ONCE, right next
    * to the decoder, appends the detected shot boundaries to a
    * hive-partitioned (by source file) SCENE INDEX, and advances a
    * cumulative corrupt-payload counter. Index rows and the
    * (ledger, counter) snapshot split by artifact exactly like the
    * triangle stream: rows append tagged with their source file, the
    * snapshot flips ledger + counter in one pointer move, and the
    * read side excludes the bounded unledgered complement — replays
    * are no-ops, crash orphans stay invisible until their file
    * re-lands, and the counter is exactly-once. Scale: payload bytes
    * never shuffle (the only wide rows live inside the decode
    * mapPartitions, which holds two frames at a time); what lands at
    * rest is (media_id, frame_idx, delta_sum) longs.
    */
  def videoIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      scenesDir: String,
      stateDir: String,
      checkpointDir: String,
      minMeanDelta: Long = 64L,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L,
      compactLedger: Boolean = true): StreamingQuery = {
    import graft.store.Versioned
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import spark.implicits._
          val snap =
            if (Versioned.exists(stateDir))
              Versioned.read(spark, stateDir)
                .collect().map(r => (r.getAs[String]("kind"),
                  r.getAs[String]("key"), r.getAs[Long]("n")))
            else Array.empty[(String, String, Long)]
          val ledger = FileLedger.fromRows(snap)
          val storedCorrupt = snap.collectFirst { case ("corrupt", _, n) => n }.getOrElse(0L)
          val files = batch.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).sorted
          val freshFiles = files.filterNot(ledger.applied)
          if (freshFiles.nonEmpty) {
            dropFreshOrphans(scenesDir, freshFiles)
            val rows =
              if (freshFiles.length == files.length) batch
              else batch.filter(input_file_name().isInCollection(freshFiles.toIndexedSeq))
            // one demux per clip: cut rows AND the corrupt markers come
            // out of the same pass (checkpointed so neither consumer
            // re-decodes), all long-sized — frames never leave the task
            val tagged = rows
              .select(col("media_id"), unbase64(col("payload_b64")).as("p"),
                input_file_name().as("src_file"))
              .as[(Long, Array[Byte], String)]
              .mapPartitions { it =>
                val codec = new graft.llm.Multimodal.VideoCodec.Codec
                it.flatMap { case (id, payload, sf) =>
                  codec.decode(payload) match {
                    case None => Iterator.single(("corrupt", id, -1, 0L, sf))
                    case Some(v) =>
                      graft.llm.Multimodal.sceneDeltas(v, minMeanDelta)
                        .map { case (f, s) => ("cut", id, f, s, sf) }
                  }
                }
              }
              .toDF("kind", "media_id", "frame_idx", "delta_sum", "src_file")
              .localCheckpoint()
            val newCorrupt = tagged.filter(col("kind") === "corrupt").count()
            val cuts = tagged.filter(col("kind") === "cut")
              .select(col("media_id"), col("frame_idx"), col("delta_sum"), col("src_file"))
            // dynamic overwrite: a crashed batch's orphan partition is
            // REPLACED by its deterministic replay, never duplicated
            if (!cuts.isEmpty)
              cuts.write.partitionBy("src_file")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite").parquet(scenesDir)
            val stateRows =
              Seq(("corrupt", "", storedCorrupt + newCorrupt)) ++
                snap.collect { case r @ ("retired", _, _) => r } ++
                FileLedger.toRows(
                  if (compactLedger) FileLedger.compact(ledger, freshFiles.toSet,
                    FileLedger.landedBasenames(landingDir))
                  else FileLedger.State(ledger.hwm, ledger.files ++ freshFiles))
            Versioned.overwrite(stateRows.toDF("kind", "key", "n"), stateDir)
            graft.store.Checkpoints.free(tagged)
          }
        }
        ()
      }
      .start()
  }

  /** A src_file-partitioned stream artifact table at rest,
    * ledger-enforced: rows whose source file the snapshot never
    * recorded (crash orphans, bounded by one batch) are excluded by
    * the same O(1)-in-stream-age complement filter the triangle
    * stream reads through. Returns an empty frame with `schema` when
    * the table has no rows yet (a stream can legitimately land files
    * that produce none), and treats a MISSING snapshot — the table dir
    * exists but the state pointer never flipped, i.e. a crash inside
    * the very first batch — as an empty ledger: every on-disk
    * partition is then an orphan and stays invisible until its file
    * replays, instead of wedging the stream on a read that throws.
    *
    * No dedup pass: the writers REPLACE a fresh file's partitions
    * (dynamic partition overwrite), so a crashed batch's orphan rows
    * are overwritten by their deterministic replay and duplicates
    * never exist at rest — the no-crash read is a plain pruned scan
    * with no Exchange (pinned by PlanInvariantsSpec).
    */
  // ---- retired-partition consolidation ------------------------------------

  /** src_file value of the consolidated partition holding every row
    * whose source file retired at or below watermark `w`. Real values
    * are landing URIs, so the tag can never collide.
    */
  private val RetiredTag = "_retired:"
  private[graft] def retiredValue(w: String): String = RetiredTag + w

  /** Blessings are keyed by TABLE (dir basename): one stream may
    * maintain several artifact tables behind one state snapshot (the
    * image stream's hashes + pairs), and each consolidates on its own
    * schedule — a shared blessing would let one table's compaction
    * reclaim another's un-consolidated dirs.
    */
  private def tableBase(tableDir: String): String = FileLedger.basename(tableDir.stripSuffix("/"))
  private def blessedOf(rows: Iterable[(String, String, Long)], base: String): Option[String] =
    rows.collectFirst { case ("retired", k, _) if k.startsWith(base + ":") =>
      k.stripPrefix(base + ":") }

  /** Is the on-disk partition `v` part of the table's visible state?
    *  - a consolidated partition: only the BLESSED one (a crashed
    *    compaction's unblessed staging stays invisible);
    *  - a per-file partition at or below the blessed watermark: no —
    *    its rows live in the consolidation now, the dir is just
    *    un-reclaimed space;
    *  - otherwise: the ledger decides (unledgered = crash orphan).
    */
  private def visiblePartition(ledger: FileLedger.State, blessed: Option[String])
                              (v: String): Boolean =
    if (v.startsWith(RetiredTag)) blessed.contains(v.stripPrefix(RetiredTag))
    else if (blessed.exists(FileLedger.basename(v) <= _)) false
    else ledger.applied(v)

  private def partitionValues(tableDir: String): Seq[String] =
    graft.store.Fs.list(tableDir)
      .filter(e => e.isDir && e.name.startsWith("src_file="))
      .map(e => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(e.name.stripPrefix("src_file=")))

  /** Delete the crash-orphan partitions a batch's FRESH files may have
    * left behind before (re)writing them. Dynamic partition overwrite
    * alone replaces an orphan only when the replay produces rows for
    * the same partition — but a replay under DIFFERENT batch slicing
    * (checkpoint wiped while new files landed, maxFilesPerTrigger > 1)
    * can legitimately produce ZERO rows for a file whose crashed
    * attempt wrote some (e.g. a pair whose other member is no longer in
    * the same batch): the `isEmpty` guard would then skip the write and
    * the orphan would become VISIBLE once the file's ledger row lands.
    * Driver-side, bounded by files-per-batch; the partitions are
    * unledgered at this point, so deletion is invisible to readers.
    */
  private def dropFreshOrphans(tableDir: String, freshFiles: Seq[String]): Unit =
    if (graft.store.Fs.exists(tableDir)) freshFiles.foreach { f =>
      graft.store.Fs.delete(s"$tableDir/src_file=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(f))
    }

  /** The visible rows of a src_file-partitioned stream table given its
    * state snapshot rows: excludes the (bounded) invisible complement —
    * crash orphans, unblessed consolidations, folded source dirs
    * awaiting reclaim — via a partition-pruned NOT IN.
    *
    * Returns None when the table holds NO data partitions at all —
    * missing dir, or a dir whose only partitions a first-batch crash
    * replay just deleted (`dropFreshOrphans` before any snapshot flip).
    * The schema-less `spark.read.parquet` below would otherwise throw
    * "Unable to infer schema" on that empty-but-existing dir, and since
    * the state never advanced, every restart would rethrow — a
    * permanently wedged stream. Callers substitute their own typed
    * empty frame.
    */
  private[graft] def visibleLedgered(spark: SparkSession, tableDir: String,
                                     snap: Iterable[(String, String, Long)]): Option[DataFrame] = {
    val parts = partitionValues(tableDir)
    if (parts.isEmpty) return None
    val ledger = FileLedger.fromRows(snap)
    val excluded = parts
      .filterNot(visiblePartition(ledger, blessedOf(snap, tableBase(tableDir))))
    val onDisk = spark.read.parquet(tableDir)
    Some(if (excluded.isEmpty) onDisk
         else onDisk.filter(!col("src_file").isin(excluded: _*)))
  }

  private def readSnap(spark: SparkSession, stateDir: String): Seq[(String, String, Long)] = {
    import graft.store.Versioned
    if (!Versioned.exists(stateDir)) Seq.empty
    else Versioned.read(spark, stateDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
  }

  /** Archive the landing files this stream's ledger has retired behind
    * the PREVIOUS snapshot's watermark (see
    * `Lake.archiveBehindWatermark`) — the retention call that keeps the
    * per-batch landing listing bounded.
    *
    * Why the previous version, not the live one: a batch flips its
    * state snapshot INSIDE foreachBatch, and Spark commits the source
    * offsets only after foreachBatch returns. A crash in that window
    * makes the file source REPLAY the batch from its recorded file
    * paths — the ledger skips re-applying it, but the source must still
    * be able to READ the files, so the files covered only by the LIVE
    * watermark may not move yet. Files behind the previous flip's
    * watermark belong to batches whose offsets committed before the
    * next batch started (the micro-batch execution order), so they can
    * never be re-read. `Versioned.overwrite`'s keep >= 1 guarantees the
    * previous version is still retained. First-flip streams archive
    * nothing yet.
    */
  def archiveRetiredLanding(spark: SparkSession, landingDir: String,
                            archiveDir: String, stateDir: String): Seq[String] = {
    import graft.store.Versioned
    val prevHwm = for {
      cur <- Versioned.currentVersion(stateDir)
      if cur >= 2
      row <- Versioned.readVersion(spark, stateDir, cur - 1)
        .collect().map(r => (r.getString(0), r.getString(1), 0L))
        .collectFirst { case ("hwm", w, _) => w }
    } yield row
    prevHwm
      .map(Lake.archiveBehindWatermark(landingDir, archiveDir, _))
      .getOrElse(Seq.empty)
  }

  private[graft] def readLedgeredTable(spark: SparkSession, tableDir: String,
                                       stateDir: String,
                                       schema: StructType): DataFrame =
    visibleLedgered(spark, tableDir, readSnap(spark, stateDir))
      .map(_.select(schema.fieldNames.map(col): _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** Consolidate a ledgered stream table's RETIRED partitions — every
    * per-file dir whose basename sits at or below the compacted
    * ledger's watermark, plus any previously blessed consolidation —
    * into ONE `_retired:<hwm>` partition. Without this, a
    * partition-per-landed-file table ages into millions of tiny hive
    * dirs (listing cost, file-count pressure, driver partition
    * discovery) even though the ledger itself stays one row; with it,
    * the at-rest layout is O(open frontier + 1) partitions at any
    * stream age, and the retired mass sits in one well-packed dir.
    *
    * Single-writer contract (run between batches or while the stream is
    * stopped — the same discipline every `Versioned` writer has), but
    * crash-safe at every point against READERS and against its own
    * retry:
    *  1. the consolidated partition is staged in a sibling temp dir and
    *     MOVED in (one dir rename) — never a read-write overwrite of
    *     the table root, never partial files under the live dir;
    *  2. until the state snapshot blesses `hwm`, the new dir is
    *     invisible (`visiblePartition`) and the folded sources still
    *     serve — a crash before the bless loses nothing and a retry
    *     rebuilds the same dir from the same sources;
    *  3. after the bless, the folded sources are invisible and their
    *     deletion is pure space reclaim — a crash mid-delete leaves
    *     dirs the next call (or read) ignores, and the
    *     `blessed == hwm` fast path finishes the cleanup.
    * Returns true when it consolidated (or completed a cleanup).
    */
  /** Serialize consolidations per STATE dir: two tables may share one
    * snapshot (the image stream's hashes + pairs), and the fold below
    * is an unsynchronized read-modify-write of that snapshot — two
    * interleaved flips could drop each other's just-written blessing
    * row, un-blessing a consolidated dir whose per-file sources were
    * already reclaimed. In-JVM a per-stateDir monitor serializes; cross
    * process the Versioned writer lock makes a second writer fail fast
    * instead of interleave.
    */
  private val compactionLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Read-only probe: is there ANY consolidation or reclaim work? Runs
    * OUTSIDE the locks so the steady state — every retired partition
    * already folded and blessed (e.g. a JVM adopting the shared replay
    * cache another JVM already consolidated) — costs one snapshot read
    * and zero lock traffic. Mirrors the locked body's three outcomes;
    * the body re-derives everything under the lock, so a stale probe
    * only costs a lock round-trip, never correctness.
    */
  private def compactionPending(spark: SparkSession, tableDir: String,
                                stateDir: String): Boolean = {
    val snap = readSnap(spark, stateDir)
    val ledger = FileLedger.fromRows(snap)
    val blessed = blessedOf(snap, tableBase(tableDir))
    ledger.hwm match {
      case None => false
      case Some(hwm) if blessed.contains(hwm) =>
        partitionValues(tableDir).exists { v =>
          if (v.startsWith(RetiredTag)) !blessed.contains(v.stripPrefix(RetiredTag))
          else blessed.exists(FileLedger.basename(v) <= _)
        }
      case Some(hwm) =>
        partitionValues(tableDir).exists { v =>
          if (v.startsWith(RetiredTag)) blessed.contains(v.stripPrefix(RetiredTag))
          else FileLedger.basename(v) <= hwm && ledger.applied(v)
        }
    }
  }

  def compactLedgeredTable(spark: SparkSession, tableDir: String, stateDir: String): Boolean = {
    // the no-op probes need a REGISTERED filesystem; on a scheme with no
    // connector at all (s3a without hadoop-aws) they throw an opaque
    // UnsupportedFileSystemException before the atomicity gate below can
    // give its deploy-as-Versioned guidance — translate ONLY that case
    // into the gate's refusal (pure URI work, needs no connector), with
    // the probe failure attached as the cause. Any other probe failure
    // (auth, transient connector IO, malformed state) propagates as
    // itself: replacing it with deploy guidance would mask the real
    // fault (r17 advice).
    // cause walk bounded at 16 and cut on a self-cycle: a cyclic cause
    // chain (constructible via reflection or unusual initCause use in
    // connector code) must not recurse unbounded inside this catch
    // handler (r18 advice) — 16 levels is far past any real connector
    // wrap depth
    @annotation.tailrec
    def isNoConnector(t: Throwable, depth: Int = 0): Boolean =
      t != null && depth < 16 && (
        t.isInstanceOf[org.apache.hadoop.fs.UnsupportedFileSystemException] ||
          Option(t.getMessage).exists(_.contains("No FileSystem for scheme")) ||
          isNoConnector(if (t.getCause eq t) null else t.getCause, depth + 1))
    val noOp = try {
      !graft.store.Fs.exists(tableDir) ||
        !graft.store.Versioned.exists(stateDir) ||
        !compactionPending(spark, tableDir, stateDir)
    } catch {
      case e: Exception if isNoConnector(e) =>
        try graft.store.Fs.requireAtomicDirRename(tableDir, "MicroBatch.compactLedgeredTable")
        catch {
          case gate: UnsupportedOperationException if gate ne e =>
            gate.initCause(e); throw gate
        }
        throw e
    }
    if (noOp) return false
    // the staged `_retired` partition move below is a directory rename;
    // unlike the Lake swaps it is bless-published (a partial copy stays
    // invisible until the snapshot flip), but on an object store it is
    // still an O(objects) copy of the table's entire retired history per
    // maintenance pass — refuse rather than degrade; the knob
    // (-Dgraft.fs.atomicDirRenameSchemes) opts a store back in. The gate
    // sits AFTER the no-op probes so a maintenance sweep over a missing
    // or already-compacted object-store table keeps its silent `false`
    // (only a pass that would actually move data refuses loudly).
    graft.store.Fs.requireAtomicDirRename(tableDir, "MicroBatch.compactLedgeredTable")
    compactionLocks.getOrElseUpdate(stateDir, new Object).synchronized {
      graft.store.Versioned.withWriterLock(stateDir) {
        compactLedgeredTableLocked(spark, tableDir, stateDir)
      }
    }
  }

  private def compactLedgeredTableLocked(spark: SparkSession, tableDir: String,
                                         stateDir: String): Boolean = {
    import graft.store.{Fs, Versioned}
    if (!Fs.exists(tableDir) || !Versioned.exists(stateDir)) return false
    val snapDf = Versioned.read(spark, stateDir)
    val snapCols = snapDf.columns.toSeq
    val snap = snapDf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
    val ledger = FileLedger.fromRows(snap)
    val base = tableBase(tableDir)
    val blessed = blessedOf(snap, base)
    val hwm = ledger.hwm.getOrElse(return false)
    def dirOf(v: String) = s"$tableDir/src_file=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
    def reclaim(bless: Option[String]): Boolean = {
      val dead = partitionValues(tableDir).filter { v =>
        if (v.startsWith(RetiredTag)) !bless.contains(v.stripPrefix(RetiredTag))
        else bless.exists(FileLedger.basename(v) <= _)
      }
      dead.foreach(v => Fs.delete(dirOf(v)))
      dead.nonEmpty
    }
    if (blessed.contains(hwm)) return reclaim(blessed) // crashed-delete cleanup only
    val folds = partitionValues(tableDir).filter { v =>
      if (v.startsWith(RetiredTag)) blessed.contains(v.stripPrefix(RetiredTag))
      else FileLedger.basename(v) <= hwm && ledger.applied(v)
    }
    if (folds.isEmpty) return false
    // stage next to the table (readers never see it), then one rename in
    // (a DIRECTORY rename: atomic POSIX/HDFS; on S3 this primitive is a
    // copy — the staged dir stays invisible either way because only the
    // snapshot bless publishes it, so the move need not be atomic, just
    // complete-before-bless)
    val tmp = s"$tableDir.compact_tmp"
    Fs.delete(tmp)
    spark.read.parquet(tableDir)
      .filter(col("src_file").isin(folds: _*))
      .drop("src_file")
      .withColumn("src_file", lit(retiredValue(hwm)))
      .write.partitionBy("src_file").parquet(tmp)
    val staged = s"$tmp/src_file=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(retiredValue(hwm))
    val target = dirOf(retiredValue(hwm))
    Fs.delete(target) // a crashed attempt's unblessed staging
    Fs.rename(staged, target)
    Fs.delete(tmp)
    // bless: same snapshot, retired row replaced — one pointer flip
    import spark.implicits._
    val rows = snap.filterNot(r => r._1 == "retired" && r._2.startsWith(base + ":")) :+
      (("retired", s"$base:$hwm", 0L))
    Versioned.overwrite(rows.toDF(snapCols: _*), stateDir)
    reclaim(Some(hwm))
    true
  }

  /** The scene index at rest (see `readLedgeredTable`). */
  def readSceneIndex(spark: SparkSession, scenesDir: String, stateDir: String): DataFrame =
    readLedgeredTable(spark, scenesDir, stateDir, StructType(Seq(
      StructField("media_id", LongType), StructField("frame_idx", IntegerType),
      StructField("delta_sum", LongType))))

  private val HashTableSchema = StructType(Seq(
    StructField("media_id", LongType), StructField("dhash", LongType)))
  private val PairTableSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("hamming", IntegerType)))

  /** Streaming incremental PERCEPTUAL dedup: PNG payloads land base64
    * in JSONL micro-batches; each batch decodes and dHashes its images
    * once, then finds near-dup pairs with AT LEAST ONE new member —
    * new×ledgered via the 4×14-bit band join (never all-pairs; the
    * simhash pigeonhole is exhaustive to hamming ≤ 3) plus new×new
    * within the batch. Every pair surfaces exactly once, in the batch
    * where its LATER member lands, so the union over batches equals the
    * batch detector's full pair set under any batching — which is
    * exactly what the oracle states (stream ≡ batch, the
    * `llm_dedup_incremental`/`er_incremental` discipline applied to
    * decoded pixels). Hash rows and pair rows append tagged with the
    * batch's source file ((new, new) pairs by the greater id's file —
    * deterministic under replay); the ledger + corrupt counter flip in
    * one versioned snapshot; the read side complement-filters both
    * tables. Per-batch cost: decode of the BATCH only + a band join of
    * batch hashes against the at-rest hash table (longs, not pixels).
    */
  def imageIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      hashesDir: String,
      pairsDir: String,
      stateDir: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L,
      compactLedger: Boolean = true): StreamingQuery = {
    import graft.store.Versioned
    require(maxHamming <= 3, "4-band pigeonhole over 56 bits is exhaustive only to hamming 3")
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    def bandsOf(df: DataFrame): DataFrame =
      df.select(col("*"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("dhash"), b * 14).bitwiseAND(lit(16383L))): _*))
          .as(Seq("band", "bk")))
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import spark.implicits._
          val snap =
            if (Versioned.exists(stateDir))
              Versioned.read(spark, stateDir)
                .collect().map(r => (r.getAs[String]("kind"),
                  r.getAs[String]("key"), r.getAs[Long]("n")))
            else Array.empty[(String, String, Long)]
          val ledger = FileLedger.fromRows(snap)
          val storedCorrupt = snap.collectFirst { case ("corrupt", _, n) => n }.getOrElse(0L)
          val files = batch.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).sorted
          val freshFiles = files.filterNot(ledger.applied)
          if (freshFiles.nonEmpty) {
            dropFreshOrphans(hashesDir, freshFiles)
            dropFreshOrphans(pairsDir, freshFiles)
            val rows =
              if (freshFiles.length == files.length) batch
              else batch.filter(input_file_name().isInCollection(freshFiles.toIndexedSeq))
            val decoded = rows
              .select(col("media_id"), unbase64(col("payload_b64")).as("p"),
                input_file_name().as("src_file"))
              .as[(Long, Array[Byte], String)]
              .mapPartitions { it =>
                val codec = new graft.llm.Multimodal.ImageCodec.Codec
                it.map { case (id, payload, sf) =>
                  codec.decode(payload) match {
                    case None => ("corrupt", id, 0L, sf)
                    case Some(img) =>
                      ("hash", id, graft.llm.Multimodal.dHash(
                        img.getWidth, img.getHeight,
                        (x, y) => codec.sample(img, x, y)), sf)
                  }
                }
              }
              .toDF("kind", "media_id", "dhash", "src_file")
              .localCheckpoint()
            val newCorrupt = decoded.filter(col("kind") === "corrupt").count()
            val newH = decoded.filter(col("kind") === "hash")
              .select(col("media_id"), col("dhash"), col("src_file"))
            val oldH = readLedgeredTable(spark, hashesDir, stateDir, HashTableSchema)
            def ham(a: Column, b: Column): Column =
              bit_count(a.bitwiseXOR(b)).cast("int")
            val nb = bandsOf(newH)
            // new×old: the incremental half — band collisions against
            // the at-rest longs, ids oriented least/greatest, pair
            // tagged by the NEW member's file
            val crossPairs = nb.as("n").join(bandsOf(oldH).as("o"),
                col("n.band") === col("o.band") && col("n.bk") === col("o.bk") &&
                  col("n.media_id") =!= col("o.media_id"))
              .select(least(col("n.media_id"), col("o.media_id")).as("id_a"),
                greatest(col("n.media_id"), col("o.media_id")).as("id_b"),
                col("n.dhash").as("ha"), col("o.dhash").as("hb"),
                col("n.src_file"))
              .distinct()
            // new×new: within-batch pairs, tagged by the greater id's
            // file (deterministic across replays)
            val innerPairs = nb.as("x").join(nb.as("y"),
                col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
                  col("x.media_id") < col("y.media_id"))
              .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"),
                col("x.dhash").as("ha"), col("y.dhash").as("hb"),
                col("y.src_file"))
              .distinct()
            val pairs = crossPairs.unionByName(innerPairs)
              .withColumn("hamming", ham(col("ha"), col("hb")))
              .filter(col("hamming") <= maxHamming)
              .select(col("id_a"), col("id_b"), col("hamming"), col("src_file"))
            // dynamic overwrite on both artifacts: a crashed batch's
            // orphan partitions are REPLACED by their deterministic
            // replay, so duplicates never exist at rest and the read
            // side needs no dedup pass at all
            if (!pairs.isEmpty)
              pairs.write.partitionBy("src_file")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite").parquet(pairsDir)
            if (!newH.isEmpty)
              newH.write.partitionBy("src_file")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite").parquet(hashesDir)
            val stateRows =
              Seq(("corrupt", "", storedCorrupt + newCorrupt)) ++
                snap.collect { case r @ ("retired", _, _) => r } ++
                FileLedger.toRows(
                  if (compactLedger) FileLedger.compact(ledger, freshFiles.toSet,
                    FileLedger.landedBasenames(landingDir))
                  else FileLedger.State(ledger.hwm, ledger.files ++ freshFiles))
            Versioned.overwrite(stateRows.toDF("kind", "key", "n"), stateDir)
            graft.store.Checkpoints.free(decoded)
          }
        }
        ()
      }
      .start()
  }

  /** The streamed hash table / near-dup pair table at rest. */
  def readImageHashes(spark: SparkSession, hashesDir: String, stateDir: String): DataFrame =
    readLedgeredTable(spark, hashesDir, stateDir, HashTableSchema)
  def readImagePairs(spark: SparkSession, pairsDir: String, stateDir: String): DataFrame =
    readLedgeredTable(spark, pairsDir, stateDir, PairTableSchema)

  /** Streaming frequent-terms maintenance: documents landing as JSONL
    * fold into a Misra-Gries summary STATE TABLE (≤ k (token, cnt)
    * rows behind a versioned pointer) — the sketch-state-at-rest shape
    * a production pipeline uses when the interesting set must survive
    * restarts and be queryable mid-stream. Per batch: already-applied
    * LANDING FILES are dropped (file-grain, like the KPI ledger), the
    * batch's own MG summary is computed WITH counts (the distributed
    * TypedImperativeAggregate pass), and the stored summary merges with
    * it under the SAME mergeable-summaries rule — both sides are ≤ k
    * rows, so the merge is a bounded driver computation by design.
    *
    * The replay ledger lives INSIDE the state snapshot ('file' rows
    * next to the 'cnt' rows), so summary and ledger flip in ONE
    * versioned pointer move — there is no crash window between
    * apply-and-record at all: a replayed batch either sees its files in
    * the snapshot (no-op) or the snapshot without them (full re-apply
    * of a merge that never landed). Snapshot size is ≤ k counters plus
    * one metadata row per landed file — sketch-scale, never
    * corpus-scale. Retention composes across batches: any token over
    * N/(k+1) of the TOTAL stream survives every (batch, merge) order,
    * which is what lets the at-rest candidates drive an exact,
    * deterministically-gateable frequent-terms answer downstream.
    */
  def mgIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      textCol: String,
      k: Int,
      stateDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L,
      compactLedger: Boolean = true): StreamingQuery = {
    import graft.llm.FrequentItems
    import graft.store.Versioned
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          import spark.implicits._
          val snap =
            if (Versioned.exists(stateDir))
              Versioned.read(spark, stateDir)
                .collect().map(r => (r.getAs[String]("kind"),
                  r.getAs[String]("token"), r.getAs[Long]("cnt")))
            else Array.empty[(String, String, Long)]
          val ledger = FileLedger.fromRows(snap)
          // bounded driver artifact: ≤ maxFilesPerTrigger paths per batch
          val files = batch.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).sorted
          val freshFiles = files.filterNot(ledger.applied)
          if (freshFiles.nonEmpty) {
            val delta =
              if (freshFiles.length == files.length) batch
              else batch.filter(input_file_name().isInCollection(freshFiles.toIndexedSeq))
            val batchSummary = delta
              .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
              .filter(col("token") =!= "")
              .agg(FrequentItems.mgSummary(col("token"), k, withCounts = true).as("s"))
              .select(explode(col("s")).as("e"))
              .select(col("e.token"), col("e.cnt"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // ≤ k rows
            val stored = snap.collect { case ("cnt", t, c) => t -> c }.toMap
            val merged = FrequentItems.mergeSummaries(stored, batchSummary, k)
            val rows =
              merged.toSeq.sortBy(_._1).map { case (t, c) => ("cnt", t, c) } ++
              FileLedger.toRows(
                if (compactLedger) FileLedger.compact(ledger, freshFiles.toSet,
                  FileLedger.landedBasenames(landingDir))
                else FileLedger.State(ledger.hwm, ledger.files ++ freshFiles))
            Versioned.overwrite(rows.toDF("kind", "token", "cnt"), stateDir)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming sessionization: the streaming twin of `Web.sessionize`
    * (30-min inactivity gap), folded per micro-batch into two at-rest
    * tables — a small OPEN-sessions state behind a versioned pointer
    * (one row per user still inside a session: running idx/count/
    * start/end plus that user's processed high-watermark) and an
    * append-only CLOSED-sessions table. Per batch: rows at or below the
    * user's (ts, event_id) watermark are dropped — the content-keyed
    * replay guard, so a redelivered batch (or a wiped checkpoint that
    * re-bundles applied files with fresh ones) re-applies nothing; the
    * surviving rows sessionize batch-locally (the same lag/sum window
    * as the batch operator), the user's FIRST local session merges into
    * their open session when the boundary gap allows, every non-final
    * session closes (idempotent via a deterministic per-batch partition
    * key + dynamic overwrite — a crashed batch's replay REPLACES its
    * own partial append, no history read), and each user's final
    * session becomes the new open row. The open table is
    * per-ACTIVE-user small; the closed table is append-only — no batch
    * ever rewrites or even READS session history (per-batch cost is
    * O(batch), independent of stream age). A pre-batch-key flat closed
    * table migrates in place at stream start under the `_legacy`
    * partition.
    *
    * In-order contract: landing batches are event-time-sliced, so each
    * user's events arrive in event-time order ACROSS batches (the same
    * delivery contract scd2IngestStream documents; the watermark guard
    * makes redelivery a no-op — it does not reorder a genuinely
    * out-of-order feed, it drops it). Under that contract the final
    * (closed ∪ open) table is batching-invariant and equals the batch
    * operator's one-shot window fold — which is exactly what the
    * driver's oracle asserts declaratively.
    */
  /** The session batch's closed-partition key, forced STRICTLY above
    * the open snapshot's last committed key. The derived key (batch
    * max (ts_us, event_id), zero-padded) increases naturally for
    * in-order landings, but a batch of late events for BRAND-NEW users
    * (no per-user hi-watermark exists to drop them) can derive a key
    * BELOW the watermark — and had that batch crashed between the
    * closed write and the open flip, its orphan partition would sort
    * below `lastCommitted` and survive the above-watermark sweep, so a
    * re-sliced replay writing under a different key would leave it
    * behind as duplicate closed sessions. Suffixing the last committed
    * key instead ("_r" appends, and appending is strictly-greater in
    * the lexicographic order the sweep compares with) restores the
    * sweep's invariant — every uncommitted partition sits above the
    * watermark — while staying deterministic under same-slicing replay
    * (same open state + same batch → same key → same-partition
    * overwrite). The suffix is a fixed-width counter, BUMPED (not
    * chained) across consecutive late batches: "base_r0000000001" →
    * "base_r0000000002" stays strictly increasing at CONSTANT name
    * length, where a per-batch append ("…_r_r…") would grow the
    * partition dir name 2 chars per late batch and — because the key
    * is deterministic — wedge the stream permanently on the
    * filesystem's name-length limit once a long enough late backfill
    * ran. Any in-order batch resets to its derived key.
    */
  private val BumpSuffix = "_r(\\d{10})$".r
  private[graft] def monotonicBatchKey(derived: String,
                                       lastCommitted: Option[String]): String =
    lastCommitted match {
      case Some(lk) if derived <= lk =>
        BumpSuffix.findFirstMatchIn(lk) match {
          case Some(m) =>
            val next = m.group(1).toLong + 1
            // the fixed-width counter is what keeps bumped keys strictly
            // increasing ("_r0000000002" > "_r0000000001" lexically); an
            // 11-digit overflow would SILENTLY invert the order
            // ("_r10000000000" < "_r9999999999") and the orphan sweep's
            // above-watermark invariant with it — duplicate closed
            // sessions, no error. Unreachable in practice (10^10
            // consecutive late batches), but exhaustion must be a loud
            // stop, not silent data duplication.
            require(next <= 9999999999L,
              s"monotonicBatchKey counter exhausted bumping past $lk — " +
                "10^10 consecutive late batches; widen the suffix before resuming")
            f"${lk.substring(0, m.start)}_r$next%010d"
          case None => f"${lk}_r${1}%010d"
        }
      case _ => derived
    }

  def sessionIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      gapUs: Long,
      openDir: String,
      closedDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.store.Versioned
    import org.apache.spark.sql.expressions.Window
    Lake.migrateFlatPartitions(spark, closedDir, "batch_key", fillMissing = Some("_legacy"))
    val openSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("session_idx", LongType),
      StructField("n_events", LongType), StructField("start_us", LongType),
      StructField("end_us", LongType), StructField("hi_us", LongType),
      StructField("hi_eid", LongType), StructField("commit_key", StringType)))
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val open0 =
            if (Versioned.exists(openDir)) Versioned.read(spark, openDir)
            else spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), openSchema)
          // pre-commit_key snapshots read as null keys (legacy upgrade)
          val open =
            if (open0.columns.contains("commit_key")) open0
            else open0.withColumn("commit_key", lit(null).cast("string"))
          val fresh = batch
            .join(open.select(col("user_id"), col("hi_us"), col("hi_eid")),
              Seq("user_id"), "left")
            .filter(col("hi_us").isNull || col("ts_us") > col("hi_us") ||
              (col("ts_us") === col("hi_us") && col("event_id") > col("hi_eid")))
            .select("user_id", "event_id", "ts_us")
          if (!fresh.isEmpty) {
            val byTime = Window.partitionBy(col("user_id"))
              .orderBy(col("ts_us"), col("event_id"))
            val byUser = Window.partitionBy(col("user_id"))
            val loc = fresh
              .withColumn("prev_us", lag(col("ts_us"), 1).over(byTime))
              .withColumn("new_s",
                when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1)
                  .otherwise(0))
              .withColumn("li", sum(col("new_s")).over(
                byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
              .groupBy(col("user_id"), col("li"))
              .agg(count(lit(1)).as("n"), min(col("ts_us")).as("s_us"),
                max(col("ts_us")).as("e_us"),
                max(struct(col("ts_us"), col("event_id"))).as("hi"))
            val j = loc
              .join(open.select(col("user_id"), col("session_idx").as("o_idx"),
                col("n_events").as("o_n"), col("start_us").as("o_s"),
                col("end_us").as("o_e")), Seq("user_id"), "left")
              // one flag per USER (window max): does the first local
              // session continue the open one? Every local session's
              // final idx shifts by it
              .withColumn("user_merge", max(
                when(col("li") === 1 && col("o_idx").isNotNull &&
                  col("s_us") - col("o_e") <= gapUs, 1).otherwise(0)).over(byUser))
              .withColumn("idx",
                coalesce(col("o_idx"), lit(0L)) + col("li") - col("user_merge"))
              .withColumn("n2", when(col("li") === 1 && col("user_merge") === 1,
                col("o_n") + col("n")).otherwise(col("n")))
              .withColumn("s2", when(col("li") === 1 && col("user_merge") === 1,
                col("o_s")).otherwise(col("s_us")))
              .withColumn("max_li", max(col("li")).over(byUser))
              .localCheckpoint() // feeds old-open close, new-session close, new open state
            val closed =
              j.filter(col("li") === 1 && col("o_idx").isNotNull && col("user_merge") === 0)
                .select(col("user_id"), col("o_idx").as("session_idx"),
                  col("o_n").as("n_events"), col("o_s").as("start_us"),
                  col("o_e").as("end_us"))
              .unionByName(
                j.filter(col("li") < col("max_li"))
                  .select(col("user_id"), col("idx").as("session_idx"),
                    col("n2").as("n_events"), col("s2").as("start_us"),
                    col("e_us").as("end_us")))
            // Idempotent close WITHOUT reading session history: the
            // batch's closures land under a zero-padded key from the
            // batch's max (ts_us, event_id) — strictly increasing
            // across COMMITTED batches BY CONSTRUCTION (the open flip
            // records it as commit_key, and `monotonicBatchKey` forces
            // a late new-user batch's key above the watermark rather
            // than assuming event time ascends) — and any closed
            // partition with a key ABOVE
            // the open table's last committed key is a crashed batch's
            // orphan, deleted here before the write. That stays correct
            // under ANY replay slicing (a wiped checkpoint re-bundling
            // the crashed file with fresh ones produces a different key
            // — the stale partition is removed, not shadowed), where
            // overwrite-by-same-key alone would leak the old partition.
            // The old guard anti-joined against the WHOLE closed table
            // every batch: O(stream-age) per batch; this is a bounded
            // driver-side dir listing.
            def batchPartitionDirs(): Seq[graft.store.Fs.Entry] =
              graft.store.Fs.list(closedDir)
                .filter(e => e.isDir && e.name.startsWith("batch_key="))
            def committedBatchDirs(): Seq[graft.store.Fs.Entry] =
              batchPartitionDirs().filter(_.name.startsWith("batch_key=b_"))
            val lastCommitted: Option[String] =
              if (!Versioned.exists(openDir)) {
                // Defense-in-depth: with no open snapshot, every b_
                // partition is "above the watermark" and would be mass-
                // deleted. A single crashed FIRST batch can leave at most
                // ONE b_ partition and NEVER a _legacy one (legacy
                // migration implies a prior deployment, which had an
                // open snapshot); anything else — two b_ dirs, or a
                // migrated batch_key=_legacy history — means the
                // open-state dir was lost OUT OF BAND (retention
                // misconfig, manual cleanup) while closed history
                // survived. Proceeding would mass-delete b_ partitions
                // and/or silently re-close every legacy session as a
                // duplicate; refuse and make the operator decide.
                val parts = batchPartitionDirs()
                // a bump-suffixed key is UNREACHABLE from a first batch:
                // the first batch sees watermark "" and monotonicBatchKey
                // never bumps against it, so a _r########## partition
                // proves committed history existed — i.e. the open dir
                // was lost out of band, not a first-batch crash
                val oneCrashedBatch = parts.isEmpty ||
                  (parts.size == 1 && parts.head.name.startsWith("batch_key=b_") &&
                    BumpSuffix.findFirstMatchIn(parts.head.name).isEmpty)
                if (!oneCrashedBatch)
                  throw new IllegalStateException(
                    s"$openDir is missing but $closedDir holds " +
                      s"${parts.size} batch_key=* partition(s) " +
                      s"(${parts.map(_.name).sorted.mkString(", ")}) — a state " +
                      "unreachable from a single crashed batch. Refusing the " +
                      "first-batch orphan sweep (it would delete or duplicate " +
                      "committed closed-session history). Restore the open " +
                      "snapshot, or rebuild both tables from the landing history.")
                Some("") // nothing ever committed
              } else {
                val r = open.agg(max(col("commit_key"))).head()
                if (r.isNullAt(0)) None // legacy snapshot: anti-join dedup below
                else Some(r.getString(0))
              }
            lastCommitted.foreach { lk =>
              committedBatchDirs()
                .filter(e => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(e.name.stripPrefix("batch_key=")) > lk)
                .foreach(e => graft.store.Fs.delete(e.path))
            }
            // Legacy upgrade window (commit_key-less open snapshot, at
            // most the ONE transitional batch): the old flat layout
            // deduped crash replays via an anti-join on (user_id,
            // start_us); a crash mid-append under THAT scheme leaves
            // partial closures now migrated into batch_key=_legacy, and
            // the replay would re-close the same sessions under a b_
            // key. Retain the old guard for exactly this batch — the
            // flip below stamps commit_key, so every later batch uses
            // the O(1) orphan sweep instead. Guarded on actual DATA
            // partitions (not bare dir existence) and read with an
            // explicit two-column schema: a closedDir that exists but
            // holds zero partitions — or a partition dir a crashed
            // write left fileless — must fall through to `closed`
            // unchanged, not throw "Unable to infer schema" on every
            // restart (the visibleLedgered empty-table wedge class,
            // made uniform here).
            val closedDeduped =
              if (lastCommitted.isEmpty && batchPartitionDirs().nonEmpty)
                closed.join(
                  spark.read.schema(StructType(Seq(
                      StructField("user_id", LongType),
                      StructField("start_us", LongType))))
                    .parquet(closedDir).select(col("user_id"), col("start_us")),
                  Seq("user_id", "start_us"), "left_anti")
              else closed
            val mk = fresh.agg(max(struct(col("ts_us"), col("event_id"))).as("m"))
              .select(col("m.ts_us"), col("m.event_id")).head()
            val batchKey = monotonicBatchKey(
              f"b_${mk.getLong(0)}%020d_${mk.getLong(1)}%020d", lastCommitted)
            // Single-partition fast path: every closure in this batch
            // shares the ONE literal batch_key, so the write targets
            // the partition directory itself — a plain parquet write of
            // a fresh dir — instead of `partitionBy` + dynamic
            // partition overwrite, whose staging/commit machinery
            // dominated the per-batch cost (~4 s/batch measured at
            // r12). Hive partition discovery restores batch_key from
            // the dir name on read, exactly as the partitionBy layout
            // did. Closure rows are 5 longs and bounded by the batch's
            // active users, so one output file is the right shape.
            if (!closedDeduped.isEmpty)
              closedDeduped.coalesce(1).write
                .mode("overwrite").parquet(s"$closedDir/batch_key=$batchKey")
            val newOpen = j.filter(col("li") === col("max_li"))
              .select(col("user_id"), col("idx").as("session_idx"),
                col("n2").as("n_events"), col("s2").as("start_us"),
                col("e_us").as("end_us"),
                col("hi").getField("ts_us").as("hi_us"),
                col("hi").getField("event_id").as("hi_eid"))
              .withColumn("commit_key", lit(batchKey))
              .unionByName(open.join(loc.select(col("user_id")).distinct(),
                Seq("user_id"), "left_anti"))
            Versioned.overwrite(newOpen, openDir)
            graft.store.Checkpoints.free(j)
          }
        }
        ()
      }
      .start()
  }

  /** Streaming additive-KPI maintenance through the PARTITION-SCOPED
    * persisted merge — the streaming twin of `Orchestrate.runPosBatch`'s
    * KPI step, composing the two at-rest properties that were proven
    * separately: (1) each micro-batch rewrites ONLY the partition dates
    * it touches (`Upsert.additivePartitioned` — untouched KPI history is
    * never read, shuffled, or rewritten; StreamingSpec asserts the files
    * stay byte-identical), and (2) redelivered data is a no-op via the
    * at-rest FILE ledger (`Upsert.fileLedgerContains/fileLedgerRecord`):
    * each batch is filtered to rows from files not yet ledgered, so the
    * at-least-once redelivery after a crash-before-checkpoint-commit
    * double-counts nothing — and because the dedup key is the SOURCE
    * FILE, not the batch id, a wiped checkpoint that renumbers and
    * re-bundles batches (mixing applied files with fresh ones under a
    * reused id) still applies exactly the unapplied files
    * (StreamingSpec drives that case). A day of 1-minute triggers thus
    * costs ~1440 merges over a handful of recent dates each, NOT 1440
    * full-history rewrites, at any history size.
    */
  def kpiIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      keys: Seq[String],
      valueCol: String,
      partitionCol: String,
      tableDir: String,
      checkpointDir: String,
      triggerMs: Long = 500L,
      maxFilesPerTrigger: Int = 16,
      compactLedger: Boolean = true): StreamingQuery = {
    import graft.store.Upsert
    // a pre-file-grain ledger (batch-id markers) cannot say WHICH files
    // it applied — continuing would re-apply them on redelivery; the
    // only safe paths are a table+ledger rebuild or a hand backfill
    if (Upsert.ledgerHasLegacyBatchIds(tableDir))
      throw new IllegalStateException(
        s"$tableDir/_ledger holds batch-id markers from the pre-file-grain ledger " +
          "format; batch ids cannot be mapped to source files, so redelivered " +
          "batches could double-count. Rebuild the table and its _ledger from the " +
          "landing history, or backfill one marker per already-applied file " +
          "(Upsert.fileLedgerRecord) and delete the numeric markers.")
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // bounded driver artifact: ≤ maxFilesPerTrigger paths per batch
          val files = batch.select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).sorted
          // hoist the watermark read: one HWM decode per batch, then a
          // marker-exists probe per file
          val hwm = Upsert.fileLedgerHwm(tableDir)
          val fresh = files.filterNot(f =>
            hwm.exists(FileLedger.basename(f) <= _) ||
              Upsert.fileLedgerHasMarker(tableDir, f))
          if (fresh.nonEmpty) {
            val delta =
              if (fresh.length == files.length) batch
              else batch.filter(input_file_name().isInCollection(fresh.toIndexedSeq))
            Upsert.additivePartitioned(spark, tableDir, delta,
              keys, valueCol, partitionCol)
            fresh.foreach(Upsert.fileLedgerRecord(tableDir, _))
            // retire the applied-prefix markers behind a high-watermark
            // so _ledger stays bounded by the open frontier, not stream age
            if (compactLedger)
              Upsert.fileLedgerCompact(tableDir, FileLedger.landedBasenames(landingDir))
          }
        }
        ()
      }
      .start()
  }

  /** T6 — the hourly alerting query as a streaming aggregation: counts of
    * negative interactions per event-time hour, emitted once the watermark
    * passes (the streaming form of Crm.negativeAlert).
    */
  /** Streaming ANN index maintenance: vectors landing as JSON are
    * assigned to their inverted list (scan-speed NearestCentroids
    * against the index's own centroid table) and APPENDED to the
    * at-rest index's partitioned lists — the index stays queryable
    * throughout, and probes see new vectors after their batch commits.
    * This is how a production vector index absorbs a corpus that never
    * stops growing: centroids are retrained offline (rarely), list
    * membership is maintained online (every batch); the partitioned
    * append touches only the lists the batch's vectors land in.
    *
    * Delivery is AT-LEAST-ONCE (checkpointed foreachBatch, like every
    * sink here), made effectively-once by construction: before
    * appending, the batch is anti-joined on vec_id against the lists it
    * would land in — a batch replayed after a crash between append and
    * checkpoint commit re-finds its own rows and appends nothing
    * (StreamingSpec proves a full redelivery is a no-op). The guard
    * reads ONLY the hit lists (centroid_id is the partition column, so
    * the probe is partition-pruned), not the whole index — per-batch
    * cost stays proportional to the lists touched at any index size.
    */
  def annIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      indexDir: String,
      checkpointDir: String,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.llm.{Similarity, VectorExprs}
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val (ids, vecs) = Similarity.loadIndexCentroids(spark, indexDir)
          // conform to the index's OWN list schema: parquet dirs must stay
          // homogeneous (a double-element file in a float-element table
          // fails reads depending on which footer the reader lists first)
          val lists = s"$indexDir/lists"
          val targetType = spark.read.parquet(lists).schema("embedding").dataType
          val assigned = batch
            .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
            .select(col("vec_id"), col("embedding").cast(targetType).as("embedding"),
              element_at(VectorExprs.nearestCentroids(col("embedding"), ids, vecs, 1), 1)
                .as("centroid_id"))
            .localCheckpoint() // one evaluation feeds prune list, anti-join, write
          // replay guard (see doc): only the partitions this batch lands in
          val hit = assigned.select(col("centroid_id")).distinct().collect().map(_.get(0))
          val existing = spark.read.parquet(lists)
            .filter(col("centroid_id").isin(hit.toIndexedSeq: _*))
            .select(col("vec_id"))
          val fresh = assigned.join(existing, Seq("vec_id"), "left_anti")
          if (!fresh.isEmpty)
            fresh.write.mode("append").partitionBy("centroid_id").parquet(lists)
          graft.store.Checkpoints.free(assigned)
        }
        ()
      }
      .start()
  }

  /** Streaming winnow-postings maintenance — the text twin of
    * `annIngestStream`: documents landing as JSON are winnowed
    * (`Fingerprints.winnowSet` — the MOSS selected-fingerprint set) and
    * their (doc_id, pos, fp) postings APPENDED to an at-rest inverted
    * index partitioned by `band = fp mod nBands`, so an overlap probe
    * (`TextAnalysis.winnowProbe`) reads only the band partitions its
    * query fingerprints hash into. The index stays probe-able
    * throughout; a landed document is discoverable by near-copies of
    * its text after its batch commits — how a production
    * plagiarism/contamination index absorbs a corpus that never stops
    * growing.
    *
    * Same effectively-once construction as the ANN ingest: before
    * appending, the batch anti-joins on doc_id against the postings in
    * the bands it would touch (partition-pruned probe, not a full-table
    * read), so a redelivered batch re-finds its own doc ids and appends
    * nothing. A document's postings land across several bands within
    * ONE append job, whose commit is atomic at job level — the guard
    * never sees a half-written document.
    */
  def winnowIngestStream(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      postingsDir: String,
      checkpointDir: String,
      nBands: Int = 16,
      triggerMs: Long = 500L): StreamingQuery = {
    import graft.llm.{Fingerprints, TextAnalysis}
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 16)
      .json(landingDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val postings = batch
            .filter(col("doc_id").isNotNull && col("text").isNotNull)
            .select(col("doc_id"),
              explode(Fingerprints.winnowSet(lower(trim(col("text"))),
                TextAnalysis.WinnowK, TextAnalysis.WinnowW)).as("v"))
            .select(col("doc_id"),
              expr("v div 4294967296").as("pos"),
              (col("v") % lit(4294967296L)).as("fp"))
            .withColumn("band", pmod(col("fp"), lit(nBands.toLong)))
            .localCheckpoint() // one winnow pass feeds prune list, guard, write
          val hit = postings.select(col("band")).distinct().collect().map(_.getLong(0))
          val fresh =
            if (!graft.store.Fs.exists(postingsDir)) postings
            else postings.join(
              // declared (doc_id, band) schema — band is the partition
              // column, taken from dir names with the declared type —
              // so a dataless dir (crashed first append) reads empty
              // instead of wedging on schema inference every restart.
              // doc_id's type follows the caller's schema (postings are
              // written from the batch column verbatim); band is always
              // the Long pmod above.
              spark.read.schema(StructType(
                  schema.fields.filter(_.name == "doc_id").toSeq :+
                    StructField("band", LongType)))
                .parquet(postingsDir)
                .filter(col("band").isInCollection(hit.toIndexedSeq))
                .select(col("doc_id")).distinct(),
              Seq("doc_id"), "left_anti")
          if (!fresh.isEmpty)
            fresh.write.mode("append").partitionBy("band").parquet(postingsDir)
          graft.store.Checkpoints.free(postings)
        }
        ()
      }
      .start()
  }

  def negativeAlertStream(
      events: DataFrame, tsCol: String, ratingCol: String,
      threshold: Int): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .filter(col(ratingCol).between(1, 2))
      .groupBy(window(col(tsCol), "1 hour"))
      .agg(count(lit(1)).as("negative_count"))
      .filter(col("negative_count") >= threshold)
      .select(col("window.start").as("hour_start"), col("negative_count"))

  /** Streaming exact dedup — the in-flight counterpart of the batch dedup
    * family: duplicate keys arriving within the watermark horizon are
    * dropped across micro-batches, and the engine evicts per-key state
    * once the watermark passes, so state is bounded by (arrival rate ×
    * horizon), not by stream history. At 100 TB/day that bound is what
    * makes streaming dedup feasible at all; duplicates farther apart than
    * the horizon are left to the batch near-dup pass.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String,
                  horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment: attach dimension attributes to an event
    * stream. The static side is broadcast, so stream micro-batches are
    * never shuffled for the join; the static PLAN re-executes per
    * micro-batch, but a plain file-backed DataFrame's listing is frozen
    * at creation — to pick up dimension refreshes without restarting,
    * pass a catalog-table read (`spark.table`) and refresh it
    * (`spark.catalog.refreshTable`) on update; overwriting the files
    * under a frozen listing instead fails the stream. Left join keeps
    * events whose key has no dimension row yet (null attributes, the
    * standard late-dimension posture; use "inner" to hold them back).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String], joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream interval join (attribution shape: right events within
    * `within` AFTER the left event, same key — impressions→clicks). Both
    * sides carry watermarks and the join has an event-time bound, so
    * Spark evicts per-key state once the watermark passes: state is
    * bounded by (rate × (horizon + within)), never by stream history —
    * the property that makes stream-stream joins feasible at all. The
    * batch counterpart of the same semantics is `ops.Joins.rangeJoin`.
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          leftTs: String, rightTs: String,
                          horizon: String = "1 hour",
                          within: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, horizon).alias("l")
    val r = right.withWatermark(rightTs, horizon).alias("r")
    l.join(r, expr(
      s"""l.$keyCol = r.$keyCol AND
         |r.$rightTs > l.$leftTs AND
         |r.$rightTs <= l.$leftTs + INTERVAL $within""".stripMargin))
  }

  /** Streaming event-time sessionization: per-user sessions closed by a
    * `gap` of inactivity, emitted once the watermark passes the session
    * end (`session_window` merges windows as late rows arrive; state per
    * open session, evicted on close — the streaming twin of the batch
    * `Web.sessionize` lag+cumsum form).
    */
  def sessionizeStream(events: DataFrame, keyCol: String, tsCol: String,
                       gap: String = "30 minutes",
                       horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, horizon)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** T2 batch-parity helper: run a bounded stream to completion (used by
    * tests and backfills — processes whatever is in the directory, then
    * stops).
    */
  def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
  }

  /** T4 — custom keyed state across micro-batches: a running per-customer
    * interaction count + negative streak, via mapGroupsWithState (the
    * engine-managed-state alternative to the storage-level upserts the
    * reference relies on).
    */
  final case class CustomerState(total: Long, negativeStreak: Int)
  final case class Interaction(customer_id: Int, rating: Option[Int])
  final case class CustomerUpdate(customer_id: Int, total: Long, negativeStreak: Int)

  final case class DocEvent(doc_id: Long, text: String, source: String)
  final case class SourceCardState(nDocs: Long, nTokens: Long, qqSum: Long)
  final case class SourceCard(source: String, n_docs: Long, n_tokens: Long, mean_quality: Double)

  /** Streaming data-card maintenance: the per-source corpus statistics
    * (`TextAnalysis.dataCard`'s docs/tokens/mean-quality core) kept live
    * as documents arrive, via per-source `mapGroupsWithState` — the
    * release-dashboard view of an always-ingesting corpus. State is one
    * tiny record per source (counts + the ×10⁶-quantized quality sum —
    * the same associative BIGINT accumulation as the batch query, so
    * the streamed mean equals the batch mean on the same rows exactly,
    * any batch boundaries). State size is bounded by source cardinality,
    * not stream history.
    */
  def dataCardStream(docs: org.apache.spark.sql.Dataset[DocEvent])
      : org.apache.spark.sql.Dataset[SourceCard] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def quality(text: String): Double = {
      val t = text.trim.split("\\s+").length
      val stop = "\\b(the|and|is|of|to)\\b".r.findAllIn(text.toLowerCase).length
      val awl = text.length.toDouble / t
      0.4 * math.min(1.0, t / 100.0) + 0.3 * math.min(1.0, stop * 10.0 / t) +
        (if (awl >= 3.0 && awl <= 10.0) 0.3 else 0.0)
    }
    docs
      .groupByKey(_.source)
      .mapGroupsWithState[SourceCardState, SourceCard] {
        (src: String, rows: Iterator[DocEvent], state: GroupState[SourceCardState]) =>
          var s = state.getOption.getOrElse(SourceCardState(0L, 0L, 0L))
          rows.foreach { d =>
            val qq = { val v = quality(d.text) * 1000000.0; if (v < 0) -math.round(-v) else math.round(v) }
            s = SourceCardState(s.nDocs + 1,
              s.nTokens + d.text.trim.split("\\s+").length, s.qqSum + qq)
          }
          state.update(s)
          SourceCard(src, s.nDocs, s.nTokens,
            math.round(s.qqSum.toDouble / 1000000.0 / s.nDocs * 1e6) / 1e6)
      }
  }

  def customerRunningState(
      interactions: org.apache.spark.sql.Dataset[Interaction]): org.apache.spark.sql.Dataset[CustomerUpdate] = {
    import interactions.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    interactions
      .groupByKey(_.customer_id)
      .mapGroupsWithState[CustomerState, CustomerUpdate] {
        (id: Int, rows: Iterator[Interaction], state: GroupState[CustomerState]) =>
          var s = state.getOption.getOrElse(CustomerState(0L, 0))
          rows.foreach { r =>
            val negative = r.rating.exists(_ <= 2)
            s = CustomerState(s.total + 1, if (negative) s.negativeStreak + 1 else 0)
          }
          state.update(s)
          CustomerUpdate(id, s.total, s.negativeStreak)
      }
  }
}
