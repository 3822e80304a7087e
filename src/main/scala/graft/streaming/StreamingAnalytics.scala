package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.Det
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/** Structured Streaming formulations of the reference's dataflow
  * (reference StreamingJob.scala:85–107), over any streaming DataFrame
  * with (ts: timestamp, user_id, event_type, value) — e.g.
  * spark.readStream parquet/rate sources or MemoryStream in tests.
  *
  * Semantics mapping (SURVEY.md §2.6–2.7):
  *  - Flink rolling keyed sum (:149–151)    → update-mode groupBy agg;
  *  - filterWithState first-per-key (:157)  → dropDuplicates (state store,
  *    never expires — identical semantics), or
  *    dropDuplicatesWithinWatermark for bounded state at scale;
  *  - punctuated per-record watermark (:56) → withWatermark; micro-batch
  *    watermarks advance per batch, not per record — on in-order or
  *    single-window data results are identical, on out-of-order data
  *    Spark is strictly more permissive (documented divergence, §2.7).
  *
  * The functions that return a DataFrame return it unstarted; callers
  * pick the sink and output mode (update for running aggregates, append
  * for watermarked windows) — the reference's labeled print sinks
  * (:92,:96,:107) map to named console queries. The `*PerBatch`
  * functions start a `foreachBatch` query and return it running, handing
  * each micro-batch's result to their sink.
  *
  * Streaming state lives only in Spark's state store, under the query's
  * checkpoint: this object writes no state file, caches no table and
  * registers no listener of its own. The corpus indexes the `*PerBatch`
  * probes read are the batch operators' artifacts.
  */
object StreamingAnalytics {

  private def w31(ts: Column): Column = window(ts, "31 days")

  /** A `foreachBatch` query over `input` in output `mode`: each
    * micro-batch goes through `op` and its result to `sink`. A
    * `checkpoint` location makes the source position and any operator
    * state durable, so a killed query restarts where it stopped. */
  private def perBatch(input: DataFrame, checkpoint: Option[String], mode: String = "append")
      (op: DataFrame => DataFrame)(sink: DataFrame => Unit): StreamingQuery = {
    val writer = input.writeStream.outputMode(mode)
    checkpoint.fold(writer)(writer.option("checkpointLocation", _))
      .foreachBatch { (batch: DataFrame, _: Long) => sink(op(batch)) }
      .start()
  }

  /** Running request count per user — the keyed rolling sum. Run in
    * `update` output mode: each micro-batch emits changed (user, cnt)
    * rows, the streaming analog of Flink's per-record emission. */
  def runningCountPerUser(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))

  /** Per-window per-user counts — the windowed half of Q1 (busiest user).
    * The final argmax is a second aggregation, which streaming can't chain
    * in one query; at the sink, take max_by per window (e.g. in
    * foreachBatch) — window-scoped, fixing the reference's cross-window
    * count leak (SURVEY.md §2.9). `windowLen` defaults to the reference's
    * 31 days; StreamingSpec's watermark-boundary cases use short windows
    * to pin exactly where Spark's batch-granularity watermark diverges
    * from the reference's punctuated per-record one (SURVEY.md §2.7). */
  def windowedUserCounts(events: DataFrame, windowLen: String = "31 days"): DataFrame =
    events.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), windowLen), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("user_id"), col("cnt"))

  /** Unique users per window = streaming dedup then windowed count
    * (reference Q2: filterWithState → rolling count → windowed max). */
  def uniqueUsersPerWindow(events: DataFrame): DataFrame =
    events.dropDuplicates("user_id")
      .withWatermark("ts", "0 seconds")
      .groupBy(w31(col("ts")))
      .agg(count(lit(1)).as("uniq_users"))
      .select(col("window.start").as("w_start"), col("uniq_users"))

  /** Average value per window with the reference's exact null-as-zero +
    * truncating-division semantics (Q3). */
  def avgValuePerWindow(events: DataFrame): DataFrame =
    events.withWatermark("ts", "0 seconds")
      .groupBy(w31(col("ts")))
      .agg(Det.floorAvg(coalesce(col("value"), lit(0))).as("avg_value_floor"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("avg_value_floor"), col("n_events"))

  /** First event per user — filterWithState parity. Unbounded state like
    * the reference; swap for [[firstEventPerUserBounded]] at scale. */
  def firstEventPerUser(events: DataFrame): DataFrame =
    events.dropDuplicates("user_id")

  /** Bounded-state dedup: state for a user expires once the watermark
    * passes their last-seen event time — the 100 TB replacement for the
    * reference's never-expiring Set state (documented divergence: a user
    * re-appearing after the lateness horizon is emitted again). */
  def firstEventPerUserBounded(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("user_id")

  /** Typed row for the custom-state API. */
  case class UserEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long)

  /** Mechanism-level parity with the reference's filterWithState
    * (reference StreamingJob.scala:157–165): explicit keyed state via
    * flatMapGroupsWithState, emitting only the first-seen event per user.
    * [[firstEventPerUser]] covers the same *semantics* with the built-in
    * dedup operator; this is the fully general custom-state form (the
    * reference's Option[Set[String]] becomes a Boolean "seen" flag, which
    * is all its per-key set ever encoded). NoTimeout = never-expiring
    * state, exactly like the reference. */
  def firstEventPerUserCustomState(events: DataFrame): Dataset[UserEvent] = {
    implicit val evEnc = Encoders.product[UserEvent]
    implicit val boolEnc = Encoders.scalaBoolean
    implicit val keyEnc = Encoders.scalaLong
    events.select(col("event_id"), col("ts"), col("user_id")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, UserEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[UserEvent], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1) // first arrival within this batch for a new key
          }
      }
  }

  /** Streaming incremental dedup — the stream twin of the batch
    * incremental-dedup operator (q68, `Dedup.incrementalDedup`): a
    * document stream keyed on the normalized content hash emits only the
    * FIRST arrival per hash; later copies are dropped by the state store.
    * Against an in-order replay of a corpus this converges to exactly the
    * batch min-doc_id-keeper table (spec'd in StreamingSpec). Unbounded
    * state like the reference's filterWithState; at 100 TB stream volume
    * bound it with a watermark + dropDuplicatesWithinWatermark, accepting
    * re-admits past the horizon (the same trade documented on
    * [[firstEventPerUserBounded]]). */
  def firstSeenContent(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("content_md5"))
      .dropDuplicates("content_md5")

  /** Streaming incremental NEAR-dup — the stream twin of q72
    * (`Dedup.incrementalNearDup`): a document stream is probed micro-batch
    * by micro-batch against the PERSISTED corpus LSH band-bucket index via
    * `foreachBatch`, the shape a production ingest pipeline runs (the
    * index is the durable state; the stream only ever shuffles the
    * micro-batch). Verdicts are handed to `sink` per batch; because batch
    * documents are judged against the CORPUS index only (q72 semantics —
    * batch docs never index each other until [[Dedup.appendNovelBatchBuckets]]
    * runs), any partition of the batch into micro-batches yields exactly
    * the batch operator's verdict table (spec'd in StreamingSpec). */
  def nearDupVerdictsPerBatch(spark: SparkSession, dir: String, docs: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, None)(Dedup.incrementalNearDupOf(spark, dir, _))(sink)

  /** Streaming incremental near-dup with INDEX MAINTENANCE — the full
    * production ingest loop: each micro-batch (a) probes the persisted
    * corpus LSH index for verdicts ([[nearDupVerdictsPerBatch]]'s probe),
    * then (b) appends its previously-unseen band buckets
    * ([[graft.operators.Dedup.appendNovelBatchBucketsOf]]) so later
    * batches probe an up-to-date index. The index is the durable state;
    * `checkpointLocation` makes the SOURCE durable too, so a query
    * killed mid-stream restarts exactly where it stopped. Restart
    * safety: foreachBatch replays the last uncommitted batch
    * (at-least-once), and the append is content-idempotent (a replayed
    * batch's keys are no longer novel — left-anti finds nothing), so the
    * index converges to the same no-duplicate/no-missing bucket set as a
    * single-shot batch append (spec'd in StreamingSpec, kill + restart). */
  def nearDupProbeAndAppendPerBatch(spark: SparkSession, dir: String, docs: DataFrame,
      checkpointLocation: String)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, Some(checkpointLocation))(identity) { batch =>
      sink(Dedup.incrementalNearDupOf(spark, dir, batch))
      Dedup.appendNovelBatchBucketsOf(spark, dir, batch): Unit
    }

  /** Streaming span-level dedup — the stream twin of q106
    * (`TextAnalysis.incrementalSpanDedupOf`): each document micro-batch
    * is rewritten against the FROZEN history span index (the persisted
    * span-digest table — the durable state, never rewritten by the
    * stream), excising any 8-token span history already contains. Every
    * doc's rewrite depends only on itself + the frozen index, so any
    * micro-batching reproduces the batch q106 table exactly (spec'd in
    * StreamingSpec) — the ingest-side "don't re-admit boilerplate the
    * corpus already has" scrub, run before tokenization. With a
    * `checkpoint`, a killed scrubber restarts at the micro-batch where it
    * stopped; a replayed row yields the IDENTICAL rewrite, so a sink
    * keyed by doc_id converges to the batch q106 table (kill + restart
    * leg spec'd in StreamingSpec). */
  def spanDedupPerBatch(spark: SparkSession, dir: String, docs: DataFrame,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, checkpoint)(TextAnalysis.incrementalSpanDedupOf(spark, dir, _))(sink)

  /** Streaming curation gate — the stream twin of q90
    * (`TextAnalysis.curationGate`): the quality model (token counts +
    * document frequencies) is trained ONCE on the corpus's hash train
    * split and FROZEN; each document micro-batch is then scored against
    * it via `foreachBatch` — the model-frozen ingest-scoring shape
    * (retraining cadence is an offline decision, q87's drift signal the
    * trigger). Verdicts per batch go to `sink`; every signal is per-doc
    * and the model batch-independent, so any micro-batching reproduces
    * the batch verdict table exactly (spec'd in StreamingSpec). With a
    * `checkpoint`, rows that arrive while the scorer is down are scored
    * on restart rather than lost; re-scoring a replayed row yields the
    * IDENTICAL verdict, so a sink keyed by doc_id converges to the batch
    * q90 table (kill + restart leg spec'd in StreamingSpec). */
  def gateVerdictsPerBatch(spark: SparkSession, dir: String, docs: DataFrame,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, checkpoint)(TextAnalysis.curationGateOf(spark, dir, _))(sink)

  /** Streaming drift monitor — the stream twin of q111's incremental
    * core (`TextAnalysis.tokenDriftOf`): each document micro-batch gets
    * its OWN drift report against the frozen history histogram (trained
    * once per corpus dir, vocabulary-bounded, never updated by the
    * stream). Unlike the per-doc twins above, drift is a per-BATCH
    * aggregate by design — the report answers "does THIS increment's
    * token distribution match the corpus?", so micro-batch granularity
    * IS the monitoring granularity, not an implementation detail; each
    * report is still a pure function of (batch, frozen model), so a
    * replayed batch yields the identical report (spec'd in
    * StreamingSpec with the per-slice recompute). With a `checkpoint`,
    * increments arriving while the monitor is down still get their
    * report on restart (kill + restart legs spec'd in StreamingSpec). */
  def driftReportPerBatch(spark: SparkSession, dir: String, docs: DataFrame,
      checkpoint: Option[String] = None)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, checkpoint)(TextAnalysis.tokenDriftOf(spark, dir, _))(sink)

  /** Streaming IMAGE dedup — the multimodal column's ingest twin
    * (q137's per-batch core): each arriving (doc_id, payload) media
    * micro-batch is decoded, perceptually hashed, and probed against
    * the PERSISTED corpus image-hash index. Batch images never index
    * each other (q72's contract), so any micro-batching reproduces the
    * batch q137 verdict table exactly (spec'd in StreamingSpec). The
    * first streaming leg whose per-row work is a real byte-decode
    * kernel, not a column expression. */
  def imageDupVerdictsPerBatch(spark: SparkSession, dir: String, media: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, None)(Multimodal.imageIncrementalDedupOf(spark, dir, _))(sink)

  /** Streaming VIDEO dedup — the temporal modality's ingest twin
    * (q144's per-batch core): each arriving (doc_id, payload) video
    * micro-batch is decoded, per-sampled-frame hashed, folded to its
    * exact perceptual signature key and probed against the PERSISTED
    * corpus key index. Batch videos never index each other (q72's
    * contract), so any micro-batching reproduces the batch q144 verdict
    * table exactly (spec'd in StreamingSpec). */
  def videoDupVerdictsPerBatch(spark: SparkSession, dir: String, media: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, None)(Multimodal.videoIncrementalDedupOf(spark, dir, _))(sink)

  /** Streaming PQ encode — q152's per-batch core: each arriving
    * (vec_id, embedding) micro-batch encodes against the FROZEN
    * corpus-only codebooks (bounded driver state, loaded once). Rows
    * are independent given the frozen model, so any micro-batching
    * reproduces the batch q152 table exactly (spec'd in StreamingSpec) —
    * the ingest path that grows an IVFPQ index by appending 4-byte
    * codes without touching the corpus. */
  def pqEncodePerBatch(spark: SparkSession, dir: String, vecs: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(vecs, None)(Similarity.pqIncrementalEncodeOf(spark, dir, _))(sink)

  /** Streaming AUDIO dedup — q145's per-batch core: each arriving
    * (doc_id, payload) track micro-batch is decoded, envelope-hashed
    * (resample-invariant, q138's kernel) and probed against the
    * PERSISTED corpus envelope index. Same q72 contract ⇒ any
    * micro-batching reproduces the batch q145 verdict table (spec'd in
    * StreamingSpec). */
  def audioDupVerdictsPerBatch(spark: SparkSession, dir: String, media: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, None)(Multimodal.audioIncrementalDedupOf(spark, dir, _))(sink)

  /** Streaming VIDEO-CONTAINMENT verdicts — the stream twin of q148:
    * each arriving video micro-batch is densely frame-hashed and probed
    * against the FROZEN corpus prefix index (frame-0 band buckets +
    * per-frame hash table, built once per corpus fingerprint — the
    * q143 frozen-index contract at frame level). Verdicts are a pure
    * function of (batch video, frozen index) and batch videos never
    * pair each other (q72's contract), so ANY micro-batching
    * reproduces the batch q148 table (spec'd in StreamingSpec). */
  def videoContainmentPerBatch(spark: SparkSession, dir: String, media: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, None)(Multimodal.videoPrefixIncrementalOf(spark, dir, _))(sink)

  /** Streaming AUDIO-CONTAINMENT verdicts — the stream twin of q174,
    * closing the family convention (the video prefix increment has had
    * one since r14): each arriving track micro-batch is decoded and
    * window-signed map-side, then probed against the FROZEN corpus
    * audio prefix index (window-0 band buckets + dense window table,
    * built once per corpus fingerprint). Verdicts are a pure function
    * of (batch track, frozen index) and batch tracks never pair each
    * other (q72's contract), so ANY micro-batching reproduces the batch
    * q174 table; replays are idempotent per track, so at-least-once
    * delivery needs only a set-union sink. Checkpointed — the kill +
    * restart leg is spec'd in StreamingSpec. */
  def audioContainmentPerBatch(spark: SparkSession, dir: String, media: DataFrame,
      checkpointLocation: String)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, Some(checkpointLocation))(
      Multimodal.audioPrefixIncrementalOf(spark, dir, _))(sink)

  /** Streaming RATE-NORMALIZED audio-containment verdicts — the stream
    * twin of q177, closing the r16 verdict's ingest gap: the q174 twin
    * above signs at the RAW rate, so a resampled+clipped copy arriving
    * as an increment evaded ingest and was only caught by the next full
    * q176 batch audit. Each arriving track micro-batch is decoded,
    * header-rate-normalized and window-signed map-side, then probed
    * against the FROZEN normalized corpus index (q177's two tables,
    * built once per corpus fingerprint). Verdicts are a pure function
    * of (batch track, frozen index) and batch tracks never pair each
    * other (q72's contract), so ANY micro-batching reproduces the batch
    * q177 table; replays are idempotent per track, so at-least-once
    * delivery needs only a set-union sink. Checkpointed — the kill +
    * restart leg is spec'd in StreamingSpec. */
  def audioContainmentNormalizedPerBatch(spark: SparkSession, dir: String, media: DataFrame,
      checkpointLocation: String)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, Some(checkpointLocation))(
      Multimodal.audioPrefixIncrementalNormalizedOf(spark, dir, _))(sink)

  /** Streaming TIME-NORMALIZED video-containment verdicts — the stream
    * twin of q179, closing the r17 verdict's last ingest gap: the q148
    * twin above probes the RAW frame index, so a re-timed re-encode
    * arriving as an increment evaded ingest and was only caught by the
    * next full q178 batch audit (the audio gap q177 closed, transposed
    * to video). Each arriving video micro-batch is decoded,
    * header-time-base-normalized and densely frame-hashed map-side,
    * then probed against the FROZEN normalized corpus index (q179's
    * two tables, built once per corpus fingerprint). Verdicts are a
    * pure function of (batch video, frozen index) and batch videos
    * never pair each other (q72's contract), so ANY micro-batching
    * reproduces the batch q179 table; replays are idempotent per
    * video, so at-least-once delivery needs only a set-union sink.
    * Checkpointed — the kill + restart leg is spec'd in
    * StreamingSpec. */
  def videoContainmentNormalizedPerBatch(spark: SparkSession, dir: String, media: DataFrame,
      checkpointLocation: String)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(media, Some(checkpointLocation))(
      Multimodal.videoPrefixIncrementalTimeNormalizedOf(spark, dir, _))(sink)

  /** Streaming CONTAINMENT verdicts — the stream twin of q143: each
    * arriving document micro-batch is shingled and probed against the
    * FROZEN containment index (postings + stop list + sizes, built once
    * per corpus fingerprint — the q90/q111 frozen-model contract). Each
    * verdict is a pure function of (document text, frozen index) and
    * batch docs never pair each other (q72's contract), so replays are
    * idempotent per doc and ANY micro-batching reproduces the batch
    * q143 table — at-least-once delivery needs only a set-union sink.
    * Kill + restart leg spec'd in StreamingSpec (r13). */
  def containmentVerdictsPerBatch(spark: SparkSession, dir: String, docs: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery =
    perBatch(docs, None)(Dedup.containmentIncrementalOf(spark, dir, _))(sink)

  /** Streaming EXPORT MANIFEST — the stream twin of q127's shard
    * integrity checksums: as documents are exported shard by shard, the
    * per-shard manifest (doc/token mass, order-free content checksum, id
    * range) is maintained incrementally. Every q127 statistic is a
    * sum/min/max fold, so the manifest is a plain streaming aggregation
    * (`TextAnalysis.shardChecksumsOf`) run in `complete` mode: its
    * NumShards-bounded partials live in the checkpoint's state store, and
    * each applied micro-batch hands `onUpdate` the full manifest of
    * everything exported so far, which equals batch q127 over the same
    * documents (kill + restart leg spec'd in StreamingSpec).
    *
    * Exactly-once comes from the state store, which commits each batch's
    * state version with the batch: a batch replayed after a crash is
    * applied to the state version before it, so no sum counts a document
    * twice. A replayed batch may hand `onUpdate` the same full manifest
    * again, so `onUpdate` must overwrite its copy, not append to it. A
    * fresh checkpoint starts from empty state, and a source replayed into
    * it rebuilds the manifest from the first document. */
  def shardManifestPerBatch(docs: DataFrame, checkpoint: String)
      (onUpdate: DataFrame => Unit): StreamingQuery =
    perBatch(TextAnalysis.shardChecksumsOf(docs), Some(checkpoint), "complete")(identity)(onUpdate)

  /** Streaming ingest SAMPLER — the stream twin of q122's annealed
    * mixture: the (epoch, source) rate table is trained ONCE on the
    * corpus and FROZEN (the q90/q111 frozen-model contract applied to
    * sampling); each arriving document micro-batch is then filtered by
    * the epoch-salted deterministic hash at those rates. The keep rule
    * is a pure function of (doc_id, epoch, rate), so ANY micro-batching
    * reproduces the batch sample exactly — ingest-time sampling without
    * a second pass over the corpus (spec'd in StreamingSpec: union of
    * per-batch samples == the batch sampler's draw, per epoch). The
    * frozen table, one row per source, is collected before the query
    * starts and held as a local relation, so the query caches nothing. */
  def annealedSamplePerBatch(spark: SparkSession, dir: String, epoch: Long,
      docs: DataFrame)
      (sink: DataFrame => Unit): StreamingQuery = {
    // an out-of-range epoch would filter the rate table to zero rows and
    // silently sample NOTHING forever — fail loudly instead (the q112
    // count-guard convention)
    require(epoch >= 1L && epoch <= 3L,
      s"annealedSamplePerBatch: epoch must be 1..3 (the schedule's rungs), got $epoch")
    val trained = TextAnalysis.annealedRatesOf(Tables.documents(spark, dir))
      .where(col("epoch") === epoch)
      .select(col("source"), col("epoch"), col("rate_permille"))
    val rates = spark.createDataFrame(trained.collectAsList(), trained.schema)
    perBatch(docs, None)(_
      .join(broadcast(rates), Seq("source"))
      .where(TextAnalysis.annealKeep)
      .select(col("doc_id"), col("source"), lit(epoch).as("epoch")))(sink)
  }

  /** Stream-stream interval join: each "view" event joins the same
    * user's "click" events that follow within 10 minutes.
    *
    * Both sides carry a watermark and the join condition bounds event
    * time in BOTH directions, so Spark can expire join state once the
    * watermark passes view_ts + 10 min — bounded state at 100 TB stream
    * volume (an unbounded-time stream-stream join would hold every row
    * forever). Inner join: unmatched views simply never emit. */
  def viewClickJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Session windows per user (30-minute gap), streaming-native. */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"), col("n_events"))
}
