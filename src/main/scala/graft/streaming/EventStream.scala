package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (SURVEY.md §1.4: the
  * reference has no real streaming — its WebSocket config is mocked — so
  * this is the Spark-native stretch surface: readStream → watermarked
  * windowed aggregation → sink, plus arbitrary stateful processing with
  * mapGroupsWithState).
  *
  * The same transformations run identically on a batch DataFrame (the
  * `*Batch` twins) — the Structured Streaming contract that makes the
  * pipeline testable: batch output == streaming output after all input is
  * processed.
  *
  * Scale: the windowed aggregate shuffles on (window, event_type) with
  * state pruned by the watermark; state size is O(active windows ×
  * event types), not O(stream length).
  */
object EventStream {

  /** The events schema as written by older generators (ts = epoch nanos
    * read as Long under the nanosAsLong legacy conf). Kept for synthetic
    * test inputs; [[readEvents]] no longer assumes it. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", LongType), // epoch nanos (legacy nanosAsLong)
    StructField("value", DoubleType)))

  /** Empty-directory bootstrap schema: the CURRENT writer shape (ts =
    * TIMESTAMP(MICROS) without UTC adjustment → TIMESTAMP_NTZ). Used by
    * [[readEvents]] only when schema inference has no file to read. */
  val bootstrapSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based stream of the events table under `dir` (one parquet file
    * today; in production a growing directory of partition files — the
    * file source tails it). File streams require an explicit schema, so we
    * take it from a static read of the same glob — the stream then sees
    * whatever ts physical type the writer produced (nanos-as-Long, NTZ
    * micros, or TIMESTAMP) and [[graft.queries.Tables.normalizeTs]]
    * converts it exactly as the batch loader does. When the directory
    * EXISTS but has no matching file YET (starting the tail before the
    * first batch lands — the production bootstrap order), schema
    * inference has nothing to read, so we fall back to
    * [[bootstrapSchema]] (the CURRENT writer's NTZ-micros shape) rather
    * than failing stream setup. The existence check is explicit — a
    * misspelled/missing directory still fails fast at the call site
    * instead of silently streaming a guessed schema. A first file from a
    * DIFFERENT writer generation (e.g. the legacy nanos-Long shape) then
    * fails its batch loudly — restart the query and the static read
    * infers the real schema; a file-source schema cannot adapt
    * mid-stream, so failing beats silently misreading. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"events stream directory does not exist: $dir")
    val matches = fs.globStatus(new org.apache.hadoop.fs.Path(p, "events.parquet"))
    val staticSchema =
      if (matches != null && matches.nonEmpty)
        spark.read.option("pathGlobFilter", "events.parquet").parquet(dir).schema
      else bootstrapSchema
    graft.queries.Tables.normalizeTs(
      spark.readStream
        .schema(staticSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir),
      "ts")
  }

  /** Watermarked tumbling-window aggregate: per (1h window, event_type)
    * count + sum, tolerating 2h late data. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total"))

  /** Batch twin of [[hourlyAgg]] for equivalence testing. */
  def hourlyAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total"))

  final case class EventRow(event_id: Long, user_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Double)
  final case class TypeState(n: Long, total: Double, maxValue: Double)
  final case class TypeUpdate(event_type: String, n: Long, total: Double,
      max_value: Double)

  /** Arbitrary stateful processing: running per-event-type totals via
    * mapGroupsWithState (KeyValueGroupedDataset). State lives in the state
    * store, checkpointed, and survives restarts — the Spark-native
    * replacement for hand-rolled stream state. */
  def runningTotals(events: Dataset[EventRow]): Dataset[TypeUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[TypeState, TypeUpdate](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EventRow], state: GroupState[TypeState]) =>
          val prev = state.getOption.getOrElse(TypeState(0L, 0.0, Double.MinValue))
          var n = prev.n
          var total = prev.total
          var mx = prev.maxValue
          rows.foreach { r =>
            n += 1
            total += r.value
            if (r.value > mx) mx = r.value
          }
          state.update(TypeState(n, total, mx))
          TypeUpdate(key, n, total, mx)
      }
  }

  /** Run the hourly aggregate to a memory sink until all currently
    * available input is processed (Trigger.AvailableNow — the batch-parity
    * run mode); returns the finished query. Results land in the
    * `tableName` in-memory table. */
  def runToMemory(agg: DataFrame, tableName: String, checkpoint: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode(OutputMode.Append()) // watermark closes windows
      .format("memory")
      .queryName(tableName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming exact-dedup — the training-data-pipeline operator in its
    * incremental form: content-hashed rows deduplicated within the
    * watermark horizon via `dropDuplicatesWithinWatermark`. State holds
    * one hash per distinct document seen in the horizon (bounded), the
    * streaming analogue of batch q27. */
  def dedupStream(docs: DataFrame, idCol: String, contentCol: String,
      tsCol: String, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(contentCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col(idCol), col("content_hash"), col(tsCol))

  /** Streaming percentile-threshold quality gate: applies a PRE-FITTED
    * per-stratum threshold table ([[graft.queries.Curation
    * .fitPercentileThresholds]], fitted on the corpus at rest and
    * persistable as parquet) to a document stream. The apply half is
    * stateless — projection + broadcast threshold join + filter, no
    * window, no aggregate — so it is streaming-legal AS-IS with no
    * foreachBatch and no state store, and every micro-batch row pays
    * one broadcast probe. Batch/stream parity is by construction: the
    * same [[graft.queries.Curation.applyPercentileGate]] plan serves
    * both frames (spec-checked). */
  def qualityGateStream(docStream: DataFrame, thresholds: DataFrame,
      strata: String, metric: String): DataFrame =
    graft.queries.Curation.applyPercentileGate(
      docStream, thresholds, strata, metric)

  /** Per-user SESSION windows (native `session_window`): events gapped
    * less than `gap` apart merge into one session; a session closes — and
    * emits — once the watermark passes its end. The canonical
    * sessionization shape for behavioral/training-data pipelines: state
    * is O(open sessions), merges are handled by the state store, and the
    * output is one row per (user, session) with span and totals. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("total_value"))

  /** Batch twin of [[userSessions]] for equivalence testing. */
  def userSessionsBatch(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("total_value"))

  /** Watermarked STREAM-STREAM interval join — the attribution shape:
    * each `purchase` joins the same user's `click` events from the
    * preceding hour. Both sides carry watermarks and the join condition
    * bounds the event-time range, which is what lets Spark EXPIRE buffered
    * state on both sides — an unbounded-time stream-stream join buffers
    * forever. State: O(events inside the watermark horizon) per side,
    * shuffled on user_id. */
  def attributionJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Batch twin of [[attributionJoin]] for equivalence testing (the
    * watermarks are no-ops in batch; the join predicate is identical). */
  def attributionJoinBatch(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Streaming INCREMENTAL dedup — the ingest-pipeline shape of batch q48:
    * each micro-batch of incoming documents is deduplicated AGAINST THE
    * EXISTING CORPUS (not just within-stream like [[dedupStream]]), via
    * [[graft.queries.TextOps.incrementalDedup]] inside foreachBatch — the
    * exact oracle-checked batch operator, so streaming verdicts match q48
    * bit-for-bit on the same slices (pinned by `EventStreamSpec`).
    *
    * Per epoch: the batch's content hashes probe the corpus min-id-per-hash
    * map (exact layer), its MinHash band rows probe the corpus band index
    * (near layer), survivors verified by true Jaccard. The corpus-side
    * signatures/bands are CACHED derivations with plan identity stable
    * across epochs — the first micro-batch materializes the corpus index,
    * every later one equi-joins against it; per-epoch cost is
    * batch-proportional, the q48 scale contract. The BATCH side's cached
    * derivations are released at the end of every epoch
    * ([[graft.queries.TextOps.unpersistDedupCaches]]) — each epoch is a
    * fresh plan, so without the per-epoch unpersist a long-lived stream
    * would accumulate cache entries unboundedly; only the corpus index
    * stays cached across epochs.
    *
    * `sink` receives the verdict frame (doc_id, verdict, partner_id,
    * jaccard) and the epoch id — exactly-once per epoch under AvailableNow
    * with a checkpoint, the standard foreachBatch contract. */
  def runIncrementalDedup(docStream: DataFrame, corpus: DataFrame,
      id: String, text: String, checkpoint: String, threshold: Double = 0.5)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        try sink(graft.queries.TextOps.incrementalDedup(
          batch, corpus, id, text, threshold), epochId)
        finally graft.queries.TextOps.unpersistDedupCaches(batch, id, text)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** [[runIncrementalDedup]] served off a PERSISTED index
    * ([[graft.queries.DedupIndex]], already built or attached in this
    * session): a new cluster can run the ingest-dedup stream with zero
    * corpus recomputation — the corpus side is three bucketed table scans,
    * exchange-free on their probe keys; per-epoch cost stays
    * batch-proportional and the batch-side derivation caches are released
    * every epoch exactly as in the in-session form.
    *
    * `appendAdmitted = true` closes the ingest loop exactly like the
    * vector twin ([[runVectorIngestIndexed]]): after the sink sees the
    * epoch's verdicts, the `new` documents are
    * [[graft.queries.DedupIndex.append]]ed to the index, so the NEXT
    * epoch dedups against this epoch's admissions — cross-epoch,
    * restart-safe (the text derivations are model-free, so appended
    * serving is bit-identical to a rebuild — the append contract). Note
    * the sink still receives ALL verdicts here (the prep pipelines
    * filter downstream); only `new` rows are appended. */
  def runIncrementalDedupIndexed(docStream: DataFrame, prefix: String,
      id: String, text: String, checkpoint: String, threshold: Double = 0.5,
      appendAdmitted: Boolean = false)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        try {
          val verdicts = graft.queries.DedupIndex.incrementalDedup(
            batch, id, text, prefix, threshold)
          if (appendAdmitted) {
            // sink first (exactly-once from the checkpoint), then grow
            // the index so the NEXT epoch dedups against this epoch
            val mat = verdicts.persist()
            try {
              sink(mat, epochId)
              val admitted = batch.join(
                mat.filter(col("verdict") === "new")
                  .select(col("doc_id").as("__new_id")),
                col(id).cast("long") === col("__new_id"), "left_semi")
              if (!admitted.isEmpty)
                graft.queries.DedupIndex.append(admitted, id, text, prefix)
            } finally mat.unpersist(false)
          } else sink(verdicts, epochId)
        } finally graft.queries.TextOps.unpersistDedupCaches(batch, id, text)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming INGEST PREP: each micro-batch of raw documents runs the
    * front of the corpus pipeline — quality filter, PII scrub — then
    * probes the existing corpus index for exact/near duplicates
    * ([[runIncrementalDedup]] semantics); only documents that pass the
    * rules AND are verdict `new` reach the sink. This is
    * [[graft.queries.CorpusPrep]]'s ingest twin: the batch pipeline
    * cleans a corpus at rest, this admits a stream into it.
    *
    * Stage order matters and mirrors the batch pipeline: the scrub runs
    * BEFORE dedup so an incoming near-copy differing only in its PII
    * still collapses against the corpus. Novelty is enforced on BOTH
    * axes a single epoch can see: within the batch (exact and near dups
    * collapse to their min-id representative via the cluster pass —
    * two identical incoming docs admit once, not twice) and against the
    * corpus (the cached index probe). Across epochs the `corpus` frame
    * is whatever the caller passed — a long-running ingest should point
    * it at the canonical store the sink appends to and restart the
    * query to refresh the cached index; within one AvailableNow run,
    * epochs do not see each other's admissions.
    *
    * Stateless stages are the `ordered = false` library forms (legal on
    * the batch frame and shuffle-free); the dedup probe is
    * batch-proportional with the corpus index cached across epochs,
    * per-epoch batch caches (including the pair frame) released.
    *
    * `sink` receives (admitted docs: doc_id, text, verdict columns
    * dropped) per epoch.
    *
    * `vocab`, when set, is a PRE-FITTED keep-list from
    * [[graft.queries.TextOps.fitVocabulary]] (fit once on the corpus —
    * fitting per micro-batch would drift the vocabulary with arrival
    * order): admitted documents are rewritten over it
    * (out-of-vocabulary tokens become `<UNK>`) before reaching the
    * sink, which then receives (`id`, `text`) with the text normalized.
    * The keep-list is bounded and broadcasts; the rebuild cost is
    * batch-proportional.
    *
    * `importanceModel`, when set, is a PRE-FITTED DSIR model from
    * [[graft.queries.Curation.fitImportanceModel]] (fit once on
    * target + at-rest pool — the q99/CorpusPrep stage's serving
    * artifact): after the quality rules and before the scrub, only
    * documents whose mean fixed-point likelihood ratio is ≥
    * `importanceMinRatioFp` (default "more target-like than raw-like")
    * continue — the same stage order as the batch pipeline. The model
    * is cached once across epochs and released on termination; scoring
    * is batch-proportional (see importanceScoreOf). */
  def runIngestPrep(docStream: DataFrame, corpus: DataFrame,
      id: String, text: String, checkpoint: String, threshold: Double = 0.5,
      vocab: Option[DataFrame] = None,
      importanceModel: Option[DataFrame] = None,
      importanceMinRatioFp: Long = 1000000L)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val impRef = importanceModel.map(_.cache())
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val keepIds = graft.queries.TextOps
          .qualityFilter(batch, id, text, ordered = false)
          .filter(col("keep") === 1L)
          .select(col("doc_id").as("__keep_id"))
        val ruleKept = batch
          .join(keepIds, col(id).cast("long") === col("__keep_id"), "left_semi")
        val selected = impRef match {
          case Some(m) =>
            val impIds = graft.queries.TextOps
              .importanceScore(ruleKept, id, text, m, importanceMinRatioFp,
                ordered = false)
              .filter(col("keep")).select(col("doc_id").as("__imp_id"))
            ruleKept.join(impIds,
              col(id).cast("long") === col("__imp_id"), "left_semi")
          case None => ruleKept
        }
        val scrubbed = selected
          .select(col(id),
            graft.queries.TextPipeline.redactedTextCol(col(text)).as(text))
        // within-batch novelty: exact dups share a cluster (J = 1), so
        // keeping each cluster's min-id representative collapses both
        // exact and near duplicates arriving in the same epoch
        val withinKeep = graft.queries.TextOps
          .dedupClusters(scrubbed, id, text, threshold)
          .filter(col("cluster_id") === col("doc_id"))
          .select(col("doc_id").as("__uniq_id"))
        val unique = scrubbed.join(withinKeep,
          col(id).cast("long") === col("__uniq_id"), "left_semi")
        try {
          val verdicts = graft.queries.TextOps
            .incrementalDedup(unique, corpus, id, text, threshold)
          val admitted = unique.join(
            verdicts.filter(col("verdict") === "new")
              .select(col("doc_id").as("__new_id")),
            col(id).cast("long") === col("__new_id"), "left_semi")
          val out = vocab match {
            case Some(keep) => graft.queries.TextOps
              .applyVocabulary(admitted, id, text, keep, ordered = false)
              .select(col("doc_id").as(id), col("text").as(text))
            case None => admitted
          }
          sink(out, epochId)
        } finally {
          graft.queries.TextOps.unpersistDedupCaches(scrubbed, id, text,
            Seq(threshold))
          // the corpus probe derived its own cached signatures from the
          // within-batch-unique frame — a different plan, released too
          graft.queries.TextOps.unpersistDedupCaches(unique, id, text)
        }
      }
      .start()
    try q.awaitTermination() finally impRef.foreach(_.unpersist())
    q
  }

  /** Streaming DRIFT MONITOR: each micro-batch's per-stratum token
    * distribution is chi-squared against a FROZEN fitted reference
    * ([[graft.queries.Curation.fitTokenDistribution]], normally capped
    * via [[graft.queries.Curation.capVocabulary]] and parquet-persisted
    * — the serving artifact) — the ingest-time alarm that a source
    * started shipping a different register (spam burst, encoding break,
    * language flip) than the corpus the pipeline was tuned on. The
    * q89/[[graft.queries.Curation.tokenDriftOf]] math verbatim, so a
    * single-epoch run over the q89 probe slice reproduces the oracle
    * rows bit-for-bit (pinned by `IngestPrepSpec`).
    *
    * Per-epoch cost is batch-proportional (the tokenDriftOf contract:
    * the reference joins on the token key and broadcasts while capped;
    * the fitted corpus never re-enters). The fitted frame is cached
    * ONCE across epochs — the only standing state; each epoch's batch
    * derivations are plain uncached plans, so a long-lived stream
    * accumulates nothing. `sink` receives the (source, n_tokens,
    * n_unseen_tokens, unseen_mass, chi2_micro) report per epoch. */
  def runTokenDrift(docStream: DataFrame, fitted: DataFrame,
      strata: String, text: String, checkpoint: String)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val ref = fitted.cache()
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        try sink(graft.queries.Curation.tokenDriftOf(batch, ref, strata, text),
          epochId)
        finally // the per-batch (source, token) aggregate is cached by
          // tokenDriftOf; release it so a long-lived stream doesn't
          // accumulate one entry per epoch
          graft.queries.Curation.unpersistDriftCaches(batch, strata, text)
      }
      .start()
    // unpersist on the failure path too: a throwing epoch propagates out
    // of awaitTermination, and the cached reference must not outlive it
    try q.awaitTermination() finally ref.unpersist()
    q
  }

  /** Streaming DSIR SELECTION: score each micro-batch of crawl documents
    * under a once-fitted importance model
    * ([[graft.queries.Curation.fitImportanceModel]]) and emit the
    * per-document (n_tokens, sum_w_fp, mean_w_fp, keep) verdicts — the
    * ingest-time "does this document look like the target corpus"
    * filter, applied before expensive downstream stages. The scoring is
    * [[graft.queries.Curation.importanceScoreOf]] verbatim (q99
    * semantics, `ordered = false` — stateless per batch), so a
    * single-epoch run over the q99 raw slice reproduces the oracle rows
    * bit-for-bit (pinned by `IngestPrepSpec`). Batch tokens unseen at
    * fit time take the smoothed neutral-prior ratio — the serving path
    * novel crawl vocabulary flows through by construction.
    *
    * Per-epoch cost is batch-proportional: the batch pre-aggregates to
    * (doc, token, tf) before joining the CACHED-once model (AQE
    * broadcasts it while it fits); the model totals are a |vocab|-row
    * aggregate over that cached frame per epoch; nothing batch-derived
    * is cached, so a long-lived stream accumulates nothing. */
  def runImportanceScore(docStream: DataFrame, model: DataFrame,
      id: String, text: String, checkpoint: String,
      keepMinRatioFp: Long = 1000000L)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val ref = model.cache()
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(graft.queries.TextOps.importanceScore(batch, id, text, ref,
          keepMinRatioFp, ordered = false), epochId)
      }
      .start()
    try q.awaitTermination() finally ref.unpersist()
    q
  }

  /** Streaming PACKING LAYOUT: each micro-batch of admitted documents is
    * laid out on the global training-token stream CONTINUING from the
    * running tail — the append-only serving form of the q88
    * concatenate-and-chunk planner
    * ([[graft.queries.TextPipeline.streamLayoutOf]] with `baseOffset`),
    * so the corpus is never rescanned at ingest time. Within an epoch
    * documents pack in id order; epochs pack in arrival order — which
    * IS the stream semantics of an append-only corpus (the append
    * identity spec pins that the split points are invisible: any
    * epoch's layout equals the full recompute over the same arrival
    * order).
    *
    * `startTail` seeds the stream position (0 for a fresh corpus, the
    * persisted [[graft.queries.TextPipeline.layoutTail]] of the
    * existing layout otherwise). `sink` receives each epoch's layout
    * rows and the epoch id; the post-epoch tail rides the driver-side
    * accumulator and is returned — a production job persists it WITH
    * the sink's output transactionally (the same exactly-once contract
    * as any foreachBatch aggregate), and re-seeds `startTail` on
    * restart. Per-epoch cost is batch-proportional: one batch-sized
    * two-level prefix sum; the only cross-epoch state is one Long. */
  def runStreamLayout(docStream: DataFrame, id: String, text: String,
      checkpoint: String, startTail: Long = 0L,
      ctxLen: Long = graft.queries.TextPipeline.StreamCtxLen,
      bucketSpan: Long = 1000000L)
      (sink: (DataFrame, Long) => Unit): Long = {
    val tail = new java.util.concurrent.atomic.AtomicLong(startTail)
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val layout = graft.queries.TextOps.streamLayout(
          batch, id, text, ctxLen, bucketSpan, tail.get())
          .cache() // one epoch, two consumers (sink + tail aggregate)
        try {
          sink(layout, epochId)
          // monotonic: an EMPTY epoch's layoutTail is 0 (its coalesce
          // floor) and must not rewind the stream position
          val newTail = graft.queries.TextPipeline.layoutTail(layout)
          if (newTail > tail.get()) tail.set(newTail)
        } finally layout.unpersist(false)
      }
      .start()
    q.awaitTermination()
    tail.get()
  }

  /** Streaming ANN SERVING: a stream of query vectors probes a STATIC
    * corpus through the PQ index ([[graft.queries.VectorOps.knnPq]]
    * semantics) — the online-retrieval half of the vector stack, where
    * [[runVectorIngest]] is the write half. The serving artifacts
    * (driver-held codebooks + the cached m-byte codes frame,
    * [[graft.queries.VectorOps.pqIndexOf]]) are built and materialized
    * ONCE before epoch 0; each micro-batch pays only its own LUT
    * projection + the ADC probe + the rerank-bounded exact pool —
    * per-epoch cost is batch-proportional, the corpus never re-encodes.
    *
    * `sink` receives each epoch's (query_id, vec_id, cos, rank) top-k
    * frame. Queries are served exactly once per epoch; a query id
    * appearing in two epochs is served independently in each (the
    * stateless-retrieval contract — dedup belongs upstream). */
  def runAnnServing(queryStream: DataFrame, corpus: DataFrame, id: String,
      vec: String, checkpoint: String, k: Int, m: Int = 8, ksub: Int = 16,
      rerank: Int = 50, iters: Int = 0)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val corpusIdx = graft.queries.VectorOps.index(corpus, id, vec)
    val pq = graft.queries.VectorOps.pqIndexOf(corpusIdx, m, ksub, iters)
    pq.enc.count() // materialize the serving index before epoch 0
    val q = queryStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val qIdx = graft.queries.VectorOps.index(batch, id, vec)
        try sink(graft.queries.VectorOps.knnPqWithIndex(
          corpusIdx, pq, qIdx, k, rerank), epochId)
        finally qIdx.unpersist(false)
      }
      .start()
    // the codes frame is built here and unreachable by the caller, so
    // release it when the serving session drains (corpusIdx stays — the
    // shared session-level artifact, same contract as runVectorIngest)
    try q.awaitTermination()
    finally pq.enc.unpersist(false)
    q
  }

  /** Streaming BPE tokenization serving — the text twin of
    * [[runAnnServing]]: the tokenizer is trained ONCE
    * ([[graft.queries.Bpe.train]] — one corpus histogram pass + the
    * bounded checkpointed merge loop) and its word→symbols vocabulary is
    * the session-held serving artifact; each micro-batch of (id, text)
    * rows is then encoded STATELESSLY ([[graft.queries.Bpe.encode]]: a
    * broadcast vocab join + one per-batch groupBy, char-level OOV
    * fallback). No state store needed — tokenization is per-row pure, so
    * exactly-once comes from the checkpoint alone, and multi-epoch output
    * equals the one-shot batch encode (spec'd).
    *
    * `sink` receives each epoch's (id, tokens) frame. */
  def runBpeTokenize(docStream: DataFrame, model: graft.queries.Bpe.BpeModel,
      checkpoint: String, id: String = "doc_id", text: String = "text")
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    model.vocab.count() // materialize the serving vocabulary before epoch 0
    val q = docStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink(graft.queries.Bpe.encode(batch, model, id, text), epochId)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming VECTOR ingest — the embedding twin of [[runIngestPrep]]:
    * each micro-batch of (id, vec) rows probes the corpus's cached
    * vector index for embedding near-duplicates
    * ([[graft.queries.VectorOps.semanticIncremental]] semantics) and only
    * `new` vectors reach the sink. The corpus index (quantized + normed,
    * [[graft.queries.VectorOps.index]]) is cached once across epochs —
    * the serving artifact; each epoch's batch-side index is released at
    * epoch end so a long-lived stream doesn't accumulate cache entries.
    *
    * `sink` receives the admitted (id, vec) rows per epoch. */
  def runVectorIngest(vecStream: DataFrame, corpus: DataFrame, id: String,
      vec: String, checkpoint: String, minCos: Double,
      planes: Int = graft.queries.VectorOps.AutoPlanes,
      bands: Int = graft.queries.VectorOps.AutoBands,
      dims: Int = 64)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val corpusIdx = graft.queries.VectorOps.index(corpus, id, vec)
    // Resolve auto-sizing ONCE from the static corpus before the stream
    // starts — per-epoch resolution would re-run the count and could
    // drift the signature scheme between epochs. The knob policy is the
    // batch operators' ([[graft.queries.VectorOps.routeShape]]): fully
    // auto-knobbed streams past the DeepenMinBits occupancy route to the
    // CELL-SHARDED probe (None), whose corpus centroids + cell assignment
    // are memoized across epochs, so each epoch pays batch assignment +
    // a probe volume pinned to ~targetCellRows — the global shape would
    // deepen with the corpus and grow every epoch's candidate volume
    // with it. The count is lazy: fully explicit-knob streams never pay
    // the corpus count scan at stream start (r13 advisor).
    lazy val corpusRows = corpusIdx.count()
    val shape = graft.queries.VectorOps.routeShape("runVectorIngest",
      planes, bands, minCos, corpusRows)
    val q = vecStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val batchIdx = graft.queries.VectorOps.index(batch, id, vec)
        try {
          val verdicts = shape match {
            case None =>
              graft.queries.VectorOps.semanticIncrementalCellsIndexed(
                corpusIdx, batchIdx, minCos, dims = dims)
            case Some((p, b)) =>
              graft.queries.VectorOps.semanticIncrementalIndexed(
                corpusIdx, batchIdx, minCos, p, b, dims)
          }
          val admitted = batch.join(
            verdicts.filter(col("verdict") === "new")
              .select(col("vec_id").as("__new_id")),
            col(id).cast("long") === col("__new_id"), "left_semi")
          sink(admitted, epochId)
        } finally batchIdx.unpersist(false)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming vector ingest served off a PERSISTED
    * [[graft.queries.VectorIndex]] — the restart-safe twin of
    * [[runVectorIngest]]: the corpus's k-means centroids, cell-scoped LSH
    * bands, and quantized vectors come from the attached `<prefix>_*`
    * tables ([[graft.queries.VectorIndex.attach]] in THIS session — even
    * a brand-new JVM whose in-memory catalog forgot everything), so a
    * serving restart retrains NOTHING and each epoch's verdicts are
    * bit-identical to the building session's
    * ([[graft.queries.VectorIndex.incrementalDedup]] parity contract;
    * `IngestPrepSpec` pins it across a session swap). Per-epoch cost is
    * the batch's own signatures + assignment + the bucketed candidate
    * join — corpus-size-invariant probe volume, the 100 TB serving
    * shape. Only `new` vectors reach the sink. */
  def runVectorIngestIndexed(vecStream: DataFrame, id: String, vec: String,
      checkpoint: String, prefix: String = "vec_idx",
      minCos: Double = Double.NaN, probes: Int = 1,
      appendAdmitted: Boolean = false, probeMargin: Double = 2.0)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val q = vecStream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val verdicts = graft.queries.VectorIndex.incrementalDedup(
          batch, id, vec, prefix, minCos, probes, probeMargin)
        val admitted = batch.join(
          verdicts.filter(col("verdict") === "new")
            .select(col("vec_id").as("__new_id")),
          col(id).cast("long") === col("__new_id"), "left_semi")
        // sink first, then grow the index with the FROZEN quantizer so
        // the NEXT epoch dedups against this epoch's admissions.
        // foreachBatch is AT-LEAST-ONCE: a crash between the append and
        // the epoch commit replays the epoch against the already-grown
        // index — verdicts stay IDENTICAL (the probe core anti-joins the
        // batch's FULL id set out of the candidate partners, so neither a
        // doc's own appended row nor a fellow batch member's can flip a
        // verdict on replay), the re-append adds duplicate index rows for
        // the same ids (verdict-neutral: candidate pairs are distinct;
        // compact collapses the files), and the sink re-emits the same
        // records — the standard idempotent-sink contract.
        if (appendAdmitted) {
          val mat = admitted.persist()
          try {
            sink(mat, epochId)
            if (!mat.isEmpty)
              graft.queries.VectorIndex.append(mat, id, vec, prefix)
          } finally mat.unpersist(false)
        } else sink(admitted, epochId)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** JOINT text+vector ingest gate served off BOTH persisted indexes —
    * the full admission shape a production corpus runs: text dedup
    * ([[graft.queries.DedupIndex]]) catches verbatim and near-verbatim
    * copies, semantic dedup ([[graft.queries.VectorIndex]]) catches the
    * paraphrase-level duplicates token LSH structurally misses, and a
    * document enters the corpus only when BOTH say `new`. Each
    * micro-batch row carries the document and its embedding; each side
    * probes its own attached index (batch-proportional, partition-pruned,
    * tombstone-aware — everything the individual probes guarantee), and
    * the sink receives one row per batch document with both verdicts,
    * both partners, both scores, and the joint `admitted` flag — the
    * audit record admission pipelines keep.
    *
    * `appendAdmitted = true` closes the loop on BOTH indexes: admitted
    * rows are appended to the text index (model-free, rebuild-exact) and
    * the vector index (frozen quantizer), so later epochs dedup against
    * earlier admissions on either axis. Replay contract (foreachBatch is
    * at-least-once): verdicts are replay-stable because the probe cores
    * anti-join the batch's FULL id set out of the candidate partners —
    * a replayed doc matches neither its own appended row nor a fellow
    * batch member's, so even an epoch carrying two mutual near-dups
    * replays bit-identically — and a crash between the two appends heals
    * on replay: the row still reads admitted and both appends re-run,
    * the text side deduping its hash row via the novel-ch filter. Ids
    * must be UNIQUE within a batch (duplicate ids multiply the joint
    * audit rows; the same contract the appends already demand). */
  def runJointIngestIndexed(stream: DataFrame, id: String, text: String,
      vec: String, checkpoint: String, textPrefix: String = "dedup_idx",
      vecPrefix: String = "vec_idx", threshold: Double = 0.5,
      minCos: Double = Double.NaN, probes: Int = 1,
      probeMargin: Double = 2.0, appendAdmitted: Boolean = false)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        try {
          val tv = graft.queries.DedupIndex.incrementalDedup(
            batch, id, text, textPrefix, threshold)
            .select(col("doc_id").as("__jid"),
              col("verdict").as("text_verdict"),
              col("partner_id").as("text_partner"), col("jaccard"))
          val vv = graft.queries.VectorIndex.incrementalDedup(
            batch, id, vec, vecPrefix, minCos, probes, probeMargin)
            .select(col("vec_id").as("__jid2"),
              col("verdict").as("vec_verdict"),
              col("partner_id").as("vec_partner"), col("cos"))
          // null-safe join: both verdict cores emit one row per batch
          // document INCLUDING null-id rows, and a plain equi-join would
          // silently drop those from the audit record
          val joint = tv.join(vv, col("__jid") <=> col("__jid2"))
            .drop("__jid2")
            .select(col("__jid").as("doc_id"), col("text_verdict"),
              col("text_partner"), col("jaccard"), col("vec_verdict"),
              col("vec_partner"), col("cos"),
              (col("text_verdict") === "new" &&
                col("vec_verdict") === "new").as("admitted"))
          val mat = joint.persist() // sink + (optionally) two appends
          try {
            sink(mat, epochId)
            if (appendAdmitted) {
              // EAGER local checkpoint before the first append: the text
              // append refreshes the text tables the admission frame's
              // lineage reads, so without severing it the vector append
              // would recompute `adm` against the updated text index —
              // where the admitted row exact-dups ITSELF — and append
              // nothing (the cross-index half of the bug the appends'
              // own staging guards within one index)
              val adm = batch.join(
                mat.filter(col("admitted"))
                  .select(col("doc_id").as("__new_id")),
                col(id).cast("long") === col("__new_id"), "left_semi")
                .localCheckpoint(true)
              if (!adm.isEmpty) {
                graft.queries.DedupIndex.append(adm, id, text, textPrefix)
                graft.queries.VectorIndex.append(adm, id, vec, vecPrefix)
              }
            }
          } finally mat.unpersist(false)
        } finally
          graft.queries.TextOps.unpersistDedupCaches(batch, id, text)
      }
      .start()
    q.awaitTermination()
    q
  }

  /** Production-shaped sink: partitioned parquet via foreachBatch (gives
    * exactly-once per epoch plus the ability to run arbitrary batch logic
    * — the standard pattern for parquet/warehouse sinks). */
  def runToParquet(agg: DataFrame, outDir: String, checkpoint: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
    q
  }
}
