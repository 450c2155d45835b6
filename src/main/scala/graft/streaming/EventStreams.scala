package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One raw event of the warehouse's incremental-load stream (schema of
  * `events.parquet`, minus the free-form `props` JSON).
  */
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** One open session interval. */
final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)

/** All open sessions for one user, start-ascending. Usually one; very
  * late admitted events (allowed lateness > gap) can hold earlier
  * sessions open concurrently — at most ~lateness/gap of them, so the
  * per-key state stays O(1) for any fixed watermark policy.
  */
final case class SessionsState(sessions: Seq[SessionState])

/** One closed session, emitted when the event-time watermark passes the
  * session gap.
  */
final case class ClosedSession(
    user_id: Long,
    session_start_us: Long,
    n_events: Long,
    duration_us: Long)

/** Structured-Streaming twins of the batch event queries — SURVEY §2.6
  * (st01/st02). The incremental-load workload of the reference (append
  * of new visits) maps to `readStream` over the events source; these
  * transforms are source-agnostic (`MemoryStream` in tests, a file or
  * Kafka source in production — same plan either way).
  */
object EventStreams {

  /** st01: hourly tumbling-window aggregate with a watermark — the
    * streaming twin of q51. State is bounded: windows older than the
    * watermark are finalized and evicted, so the query runs forever on
    * an unbounded stream. The aggregation is hash-partial per
    * micro-batch (map-side combine), shuffled on (window, event_type).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** st0e: hopping (sliding) window aggregate — the streaming twin of
    * q5b, same native `window(ts, size, slide)` Expand. Each event
    * contributes to size/slide open windows, so watermark eviction is
    * what keeps state bounded: at any moment ~(watermark + size)/slide
    * windows per event_type are live, a query constant independent of
    * stream length. Same (window, event_type) partial-agg shuffle per
    * micro-batch as st01.
    */
  def slidingCounts(
      events: DataFrame,
      size: String = "15 minutes",
      slide: String = "5 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** st02: gap-based sessionization (30 min default) via
    * `flatMapGroupsWithState` with an event-time timeout — the
    * streaming twin of q52. State per user is the list of OPEN
    * sessions (one, unless allowed lateness exceeds the gap — then at
    * most ~lateness/gap), merged with each batch's events by the same
    * interval fold the batch twin uses; a session closes exactly once,
    * when the watermark passes `lastUs + gap` (timeout or next batch,
    * whichever first). Keys shuffle once on user_id; at cluster scale
    * state is sharded across executors by the same hash.
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      // allowed lateness; defaults to the gap. Deployments that admit
      // very late data (lateness >> gap) still sessionize it
      // correctly: admitted events older than the open session merge
      // into (or reopen) their own earlier sessions, even across
      // micro-batches.
      lateness: Option[String] = None): Dataset[ClosedSession] = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L

    // true microseconds: getTime alone is ms-truncated, which would
    // diverge from the batch q52 twin (unix_micros) on sub-ms gaps
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

    // Interval-merge fold: open sessions from state plus this batch's
    // events (as 1-event intervals), start-sorted, merged wherever the
    // next interval starts within `gap` of the running one — EXACTLY
    // the batch q52 definition, so very late admitted events (allowed
    // lateness > gap) merge correctly even when they arrive across
    // different micro-batches. A session closes only when the
    // watermark passes its `last + gap` boundary: beyond that no
    // admissible event (ts >= watermark) can reach it, so it can
    // never grow again. The timeout path is the same code with an
    // empty row slice.
    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionsState]): Iterator[ClosedSession] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val open = state.getOption.map(_.sessions).getOrElse(Seq.empty)
      val intervals = (open ++ rows.map { e =>
        val us = micros(e.ts); SessionState(us, us, 1)
      }).sortBy(s => (s.startUs, s.lastUs))
      val merged = intervals.foldLeft(List.empty[SessionState]) { (acc, s) =>
        acc match {
          case h :: t if s.startUs - h.lastUs <= gapUs =>
            SessionState(h.startUs, math.max(h.lastUs, s.lastUs), h.nEvents + s.nEvents) :: t
          case _ => s :: acc
        }
      }.reverse
      // STRICT <: an event with ts == watermark is still admissible
      // (the source admits ts >= wm), and at gap == gapUs the batch
      // twin (q52: `gap_us > gapUs` splits) would MERGE it into this
      // session — closing at equality would emit the session early and
      // split what the batch counts as one
      val (done, stillOpen) = merged.partition(s => s.lastUs + gapUs < wmUs)
      if (stillOpen.isEmpty) {
        if (state.exists) state.remove()
      } else {
        state.update(SessionsState(stillOpen))
        val timeoutMs = stillOpen.map(_.lastUs).min / 1000L + gapMinutes.toLong * 60L * 1000L
        // setTimeoutTimestamp must stay ahead of the watermark
        state.setTimeoutTimestamp(math.max(timeoutMs, state.getCurrentWatermarkMs() + 1L))
      }
      done.iterator.map(s => ClosedSession(userId, s.startUs, s.nEvents, s.lastUs - s.startUs))
    }

    implicit val outEnc = Encoders.product[ClosedSession]
    implicit val stEnc = Encoders.product[SessionsState]
    events
      .withWatermark("ts", lateness.getOrElse(s"$gapMinutes minutes"))
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionsState, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** st05: continuous-load source breadth. A deterministic
    * `rate-micro-batch` stream mapped onto the Event schema — the
    * stand-in for the reference's continuous import feed. In
    * production the ONLY change is the source line
    * (`format("kafka")` + `from_json(value)`); every downstream
    * transform ([[tumblingCounts]], [[sessionize]], [[dedupedAppend]])
    * takes the DataFrame unchanged, which is the point: graft's
    * streaming operators are source-agnostic.
    *
    * Each micro-batch carries `rowsPerBatch` rows sharing one event
    * time that advances `advanceMs` per batch, so window/watermark
    * behavior is reproducible in tests (unlike the wall-clock `rate`
    * source).
    */
  def rateEvents(
      spark: org.apache.spark.sql.SparkSession,
      rowsPerBatch: Int = 90,
      startMs: Long = 0L,
      advanceMs: Long = 3600000L): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toLong)
      .option("startTimestamp", startMs)
      .option("advanceMillisPerBatch", advanceMs)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % 50).as("user_id"),
        when(col("value") % 3 === 0, "click")
          .when(col("value") % 3 === 1, "view")
          .otherwise("buy").as("event_type"),
        ((col("value") % 100) / 10.0).as("value"))

  /** st0a: socket-source adapter — newline-delimited JSON events over
    * a TCP socket, parsed into the Event schema with `from_json`. With
    * the file-source test (st09) this completes the source-breadth
    * story: MemoryStream / rate / file / socket all feed the same
    * transforms unchanged, and a production Kafka source is again only
    * the source line (`format("kafka")` + the same `from_json`).
    * Spark's socket source is single-connection and non-replayable
    * (driver-side receive, no offsets) — a test/dev conduit, never the
    * 100 TB path; the parse-and-shape plan it feeds is the real,
    * scale-tested artifact.
    */
  def socketEvents(
      spark: org.apache.spark.sql.SparkSession,
      host: String,
      port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .select(from_json(col("value"), Encoders.product[Event].schema).as("e"))
      // a malformed/truncated line parses to a NULL struct (and a
      // schema-mismatched one to null required fields): dropped here,
      // because letting it through as an all-null row kills the typed
      // consumers downstream (`.as[Event]` throws on a null primitive
      // field, terminating the whole query for one garbage line) and
      // silently pollutes untyped aggregations with a null-keyed group
      .filter(col("e").isNotNull &&
        col("e.event_id").isNotNull && col("e.ts").isNotNull &&
        col("e.user_id").isNotNull && col("e.event_type").isNotNull &&
        col("e.value").isNotNull)
      .select("e.*")

  /** st03: exactly-once incremental load — the reference's "append new
    * visits" ETL shape. Duplicate deliveries (at-least-once sources,
    * replayed batches) are dropped on the event id within the
    * watermark horizon; state is bounded because ids older than the
    * watermark are evicted.
    */
  def dedupedAppend(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** st08: streaming ingest hygiene — the scrub + quality-gate step of
    * a continuous document feed, run as a stateless per-row transform
    * (no watermark, no state store): PII-shaped redaction
    * ([[graft.operators.TextAnalysis.scrubPatterns]]) plus a minimum
    * token-count keep flag. Stateless streaming transforms execute the
    * exact batch plan per micro-batch, so the batch q89/q82 semantics
    * carry over unchanged — which is why this needs a test (the
    * streaming wrapper) but no separate query entry.
    */
  def scrubbedDocs(docs: DataFrame, minTokens: Int = 5): DataFrame = {
    // token count on the RAW text, before the scrub collapses
    // multi-token PII into one '[REDACTED]' — the gate must judge the
    // document, not the redaction artifact. NULL text must land as
    // n_tokens 0 / keep false: under ANSI (Spark 4 default) size(null)
    // is NULL, and a NULL keep is invisible to BOTH the keep-side
    // filter and the reject-side audit — the row would silently leave
    // the pipeline through neither gate
    val withTok = docs
      .withColumn("n_tokens",
        coalesce(size(split(trim(col("text")), "\\s+")), lit(0)).cast("long"))
    graft.operators.TextAnalysis
      .scrubPatterns(withTok, "text", graft.operators.TextAnalysis.piiPatterns)
      .withColumn("keep", col("n_tokens") >= minTokens)
  }

  /** st0b: continuous dedup ingest — the streaming run of the
    * persisted-band-index cycle ([[graft.dedup.Dedup.ingestAndCommit]])
    * over a document stream. Per micro-batch: screen the batch against
    * the stored band index, commit the accepted docs' bands back as an
    * index delta, and append the accepted docs themselves to the
    * corpus snapshot store — so every micro-batch dedups against the
    * original corpus PLUS every earlier batch's keepers, through the
    * store, never by re-shingling.
    *
    * Initialize once before starting:
    * `Snapshots.commit(corpus, corpusRoot)` and
    * `Dedup.commitBandIndex(corpus, indexRoot)`.
    *
    * The corpus store is append-only under this sink (keepers are
    * new by construction), so the per-batch corpus view is
    * [[graft.sources.Snapshots.readAppendOnly]] — the latest full
    * snapshot plus later deltas as a narrow union, never
    * `Snapshots.latest`, whose merge ranks every delta row since the
    * last compaction (text included) and anti-joins the corpus with
    * their keys on every micro-batch, although keepers are new by
    * construction and supersede nothing. That keeps the
    * per-ingest cost at what [[graft.dedup.Dedup.ingestAgainstIndex]]
    * promises: one index scan + one narrow corpus scan. Both stores
    * grow one delta segment per batch: fold them back on an
    * operational cadence with
    * [[graft.dedup.Dedup.compactBandIndex]] (index) and
    * [[graft.sources.Snapshots.compact]] (corpus) — the append-only
    * read skips the segments a compact supersedes, so compaction
    * bounds the scan fan-in instead of double-counting every row.
    * Compacting the LIVE store is safe: the sink's delta commits
    * retry the manifest CAS
    * ([[graft.sources.Snapshots.commitDeltaRetrying]]), so losing
    * the race to a compact re-publishes instead of killing the
    * stream; both folds are pinned to the chain they read, so one
    * that a delta overtakes fails loudly ("stale fold") and is
    * simply re-run.
    *
    * Delivery is at-least-once (foreachBatch). A replayed shingled
    * keeper matches its own committed copy (jaccard 1) and drops; a
    * replayed shingle-less keeper (< 3 tokens — no signature, never a
    * candidate) cannot, so the corpus commit additionally anti-joins
    * the store's existing ids: the corpus store never sees a
    * duplicate row under replay. The band index CAN gain duplicate
    * band rows on a replay that crashed between the two commits of a
    * batch — the index commits first (inside ingestAndCommit), so a
    * crash before the corpus commit leaves a keeper whose bands are
    * stored but whose text is not: the replayed copy finds candidates
    * but can't resolve their text, re-keeps, and re-commits its
    * bands. Harmless for verdicts (the candidate join dedups pairs;
    * the corpus anti-join keeps the store row-unique) and folded only
    * by index growth, not correctness. The order is deliberate —
    * corpus-first would invert the failure into a keeper whose text
    * is stored but whose bands NEVER land (the replay's anti-join
    * drops it before ingest), a permanent recall hole rather than a
    * few redundant rows. In-batch near-dups are NOT screened against
    * each other (per-batch semantics, as in q69); pre-dedup the batch
    * if that matters.
    */
  def streamDedupIngest(
      docs: DataFrame, indexRoot: String, corpusRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ingestSink(docs, indexRoot, corpusRoot, checkpoint, identity,
      graft.dedup.Dedup.ingestAndCommit(_, _, _), key = "doc_id", keeperCols = identity)

  /** The ONE screen/commit cycle ALL THREE ingest sinks run
    * ([[streamDedupIngest]] with `prep = identity`,
    * [[streamCurateIngest]] with the batch-local curation stage,
    * [[streamVecDedupIngest]] with the vector ingest and key) — a
    * replay-guard or commit-protocol fix lands in every sink by
    * construction instead of being hand-mirrored across copies.
    */
  private def ingestSink(
      rows: DataFrame, indexRoot: String, corpusRoot: String,
      checkpoint: String,
      prep: DataFrame => DataFrame,
      ingest: (DataFrame, DataFrame, String) => DataFrame,
      key: String,
      keeperCols: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist the PREPPED batch: the emptiness probe, the screen,
        // and the keeper commit would each recompute it otherwise
        val kept = prep(batch).persist()
        try if (!kept.isEmpty) {
          import graft.sources.Snapshots
          val spark = kept.sparkSession
          val corpus = Snapshots.readAppendOnly(spark, corpusRoot)
          val verdicts = ingest(kept, corpus, indexRoot)
          val keepers = keeperCols(graft.dedup.Dedup.keepersOf(kept, verdicts, key = key))
            .join(corpus.select(key), Seq(key), "left_anti")
          // retrying: an operational compact on the live store may win
          // the manifest CAS mid-batch; the keeper append is
          // version-independent, so losing re-publishes instead of
          // killing the stream
          Snapshots.commitDeltaRetrying(keepers, corpusRoot)
          ()
        } finally { kept.unpersist(); () }
      }
      .start()

  /** st0d: continuous CURATION ingest — the streaming run of the full
    * document pipeline, composing qa0's batch-local stage with
    * [[streamDedupIngest]]'s cross-batch cycle. Per micro-batch:
    *
    *  1. [[graft.operators.Curate.curated]] curates the batch
    *     LOCALLY: quality scoring, language filter, in-batch
    *     exact-norm dedup, deterministic split tag — all narrow/
    *     batch-bounded, exactly the qa0 plan on micro-batch rows;
    *  2. the survivors are screened against the persisted LSH band
    *     index (cross-batch NEAR-dup — the in-batch exact stage can't
    *     see earlier batches; the index can, without re-shingling
    *     anything but the batch);
    *  3. keepers commit: bands to the index, curated rows (with
    *     their quality/lang/split annotations) to the corpus store.
    *
    * Initialize BOTH stores from the CURATED corpus (the store's
    * schema and the index's bands must describe the same rows —
    * bands for curation-rejected raw docs would generate candidates
    * whose text the corpus fetch can never resolve, wasted work on
    * every batch forever):
    * {{{
    * val seed = Curate.curated(corpus)
    * Snapshots.commit(seed, corpusRoot)
    * Dedup.commitBandIndex(seed, indexRoot)
    * }}}
    *
    * Replay safety is [[streamDedupIngest]]'s: curation is
    * deterministic per batch, a replayed keeper self-matches through
    * the index (jaccard 1) and re-drops, and the corpus commit
    * anti-joins stored ids — the store stays row-unique. The filter
    * stages additionally BOUND the replayed work: only survivors are
    * ever re-shingled.
    */
  def streamCurateIngest(
      docs: DataFrame, indexRoot: String, corpusRoot: String,
      checkpoint: String, minQuality: Double = 0.12, lang: String = "en")
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestSink(docs, indexRoot, corpusRoot, checkpoint,
      graft.operators.Curate.curated(_, minQuality, lang),
      graft.dedup.Dedup.ingestAndCommit(_, _, _), key = "doc_id", keeperCols = identity)

  /** st0c: continuous EMBEDDING dedup ingest — [[streamDedupIngest]]'s
    * cycle over the persisted VECTOR bucket index
    * ([[graft.dedup.Dedup.ingestAndCommitVec]]): per micro-batch,
    * screen the batch's vectors against the stored bucket keys (the
    * index's PINNED geometry — never re-resolved, or the keys would
    * stop aligning), commit keepers' buckets back as an index delta,
    * and append the keeper vectors to the corpus store, so each batch
    * dedups against the original corpus plus every earlier batch's
    * keepers through the store. The corpus-vector store uses the same
    * append-only supersession read as the text sink's
    * ([[graft.sources.Snapshots.readAppendOnly]]) — `latest` would
    * shuffle every accumulated embedding per micro-batch; candidates
    * bound the corpus rows the verify cosine actually touches.
    *
    * Initialize once before starting:
    * `Snapshots.commit(corpusVecs, corpusRoot)` and
    * `Dedup.commitVecIndex(corpusVecs, indexRoot)`.
    *
    * Delivery is at-least-once. A replayed keeper bands to its own
    * committed buckets and self-matches at cosine 1 ≥ τ → re-dropped,
    * no bands re-commit. The vectors that CANNOT self-match are the
    * un-scorable class ([[graft.functions.VectorFunctions.cosine]]
    * yields NULL for any zero, NaN or infinite norm — never a
    * match): their replay re-commits duplicate band rows — harmless
    * for verdicts (the candidate join dedups pairs) — and the corpus
    * anti-join below still keeps the vector store row-unique, same
    * belt-and-braces as the text sink's shingle-less case.
    */
  def streamVecDedupIngest(
      vecs: DataFrame, indexRoot: String, corpusRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    ingestSink(vecs, indexRoot, corpusRoot, checkpoint, identity,
      graft.dedup.Dedup.ingestAndCommitVec, key = "vec_id",
      keeperCols = _.select("vec_id", "embedding"))
}
