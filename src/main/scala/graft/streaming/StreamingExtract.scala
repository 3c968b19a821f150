package graft.streaming

import java.sql.Timestamp

import graft.kernel.{Extract, ExtractMode}
import graft.model.Doc
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine.
  *
  * The reference's "continuous" behavior is only its Flask request loop
  * (SURVEY.md §2.6) — the streaming engine generalizes ingest to unbounded
  * input: the same pure extraction kernel runs inside a streaming
  * micro-batch (readStream → mapPartitions → writeStream), and operational
  * metrics become watermarked event-time windows. State for incremental
  * per-doc accounting lives in mapGroupsWithState.
  *
  * At scale: the kernel stage is stateless (map-only), so streaming
  * parallelism = source partitions; only the windowed metric agg shuffles,
  * and the watermark bounds its state.
  */
object StreamingExtract {

  /** Streaming extraction: same kernel, unbounded docs. The bare kernel
    * map, not `ExtractJob`'s failure-catching stage: a stream has no lineage
    * sink to count failures in, so a failing doc must fail the batch loudly
    * rather than turn into a silent empty doc.
    */
  def extractStream(docs: Dataset[Doc], mode: ExtractMode = ExtractMode.ChunkMode): Dataset[Doc] =
    docs.mapPartitions(_.map(Extract.extractDoc(_, mode)))(docs.encoder)

  /** Watermarked tumbling-window span-production metrics over a stream of
    * (ts, doc_id, n_spans) ingest events — the streaming analog of the A5
    * counters / q_window_events.
    */
  def spanRate(ingestEvents: DataFrame, watermark: String = "10 minutes"): DataFrame =
    ingestEvents
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("kind"))
      .agg(count(lit(1)).as("spans"), sum(col("chars")).as("chars"))
      .select(col("window.start").as("hour"), col("kind"), col("spans"), col("chars"))

  /** Streaming exact dedup — the training-pipeline dedup operator on
    * unbounded input: content-hash key, watermark-bounded state, so a
    * duplicate arriving within the watermark horizon is dropped and state
    * never grows past the horizon (the only viable shape at 100 TB/day:
    * global forever-state is unbounded; bounded-horizon dedup + a periodic
    * batch compaction of the sink handles late duplicates).
    */
  def dedupStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-duplicate dedup within the watermark horizon — the
    * round-3 gap: `dedupStream` only drops exact `content_hash` repeats,
    * but a trivially paraphrased republication slipped through until batch
    * compaction. This stage drops it in-stream:
    *
    *   1. each doc explodes to its LSH band-bucket rows (`DedupOps.
    *      withBandBuckets` — the IDENTICAL tokenize → shingle →
    *      `minhash_sigs` → band-hash expressions as the batch near-dup
    *      path, so stream and batch bucket identically by construction);
    *   2. `dropDuplicatesWithinWatermark(bh)` keeps only the FIRST row per
    *      band bucket inside the horizon (watermark-bounded state, one row
    *      per occupied bucket);
    *   3. a windowed per-doc count of SURVIVING bands: a doc whose every
    *      band bucket was already occupied contributes zero rows and
    *      vanishes — dropped; a doc with at least one novel band survives.
    *
    * Semantics (deliberately high-precision): drop only when ALL bands
    * collide — for a true near-duplicate of one prior doc that is the
    * full-signature match event (probability s^8 for Jaccard s: ≈1 for
    * exact/trivially-edited republications, 0.43 at s=0.9). False drops of
    * genuinely novel docs need every band to collide by chance — vanishing
    * at 60-bit band hashes. The full-recall near-dup pass (LSH candidates
    * + Jaccard verification + connected components) stays in the batch
    * compaction, which is the right split at 100 TB/day: in-stream state
    * is one narrow row per band bucket per horizon, never corpus-global.
    *
    * Output rows appear when the watermark closes their window (append
    * mode with two chained stateful operators — supported since the
    * multi-stateful-operator work in Spark 3.4+).
    */
  def nearDedupStream(
      docs: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame = {
    val banded = graft.operators.DedupOps.withBandBuckets(docs)
    // Docs under the 3-token shingle minimum have no MinHash bands — the
    // band path would silently DROP them (they'd contribute zero rows).
    // They get one synthetic content-hash bucket instead: identical short
    // docs inside the horizon still dedup (exact semantics — the only
    // near-dup notion that exists below shingle length), novel ones pass.
    val short = docs
      // coalesce: size(...) is NULL for null text, and a NULL predicate
      // would drop the row from BOTH branches — null/empty docs belong here
      .where(expr(s"coalesce(size(${graft.operators.Idioms.toksSpark}), 0) < 3"))
      .withColumn("band", lit(-1))
      .withColumn("bh", md5(concat(lit("short|"), coalesce(col("text"), lit("")))))
      .select(banded.columns.map(col).toIndexedSeq: _*)
    banded.unionByName(short)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("bh")
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(first(col("text")).as("text"), count(lit(1)).as("novel_bands"))
      .select(col("window.start").as("window_start"), col("doc_id"),
        col("text"), col("novel_bands"))
  }

  /** Shared foreachBatch scaffolding: persist the micro-batch (the body
    * runs multiple actions over it — without the persist each one would
    * re-execute the micro-batch's source plan), skip empties, always
    * unpersist. Every foreachBatch sink goes through here so the
    * persist/guard/unpersist discipline cannot diverge between sinks.
    */
  private def persistedBatchSink(df: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        try { if (!b.isEmpty) body(b, id) }
        finally { b.unpersist(); () }
      }
      .start()

  /** Stream new embedding vectors INTO the persisted IVF index: each
    * micro-batch goes through `AnnIndex.append` — assigned under the
    * index's existing centroids (and encoded with its codebooks, for a PQ
    * payload), committed via the batch manifest. Because the batch id
    * derives from the batch CONTENT, a micro-batch replayed after a sink
    * failure overwrites its own delta directory and re-commits the same
    * id: the effect is exactly-once even though foreachBatch is
    * at-least-once. Empty micro-batches are skipped (append rejects them).
    *
    * Cost note: the duplicate-id guard is digest-based (the base index's
    * bloom plus one per committed batch, carried in the manifest — see
    * [[graft.operators.DeltaBatches.guardDisjoint]]), so a micro-batch
    * pays O(batch + manifest), independent of index size; only a digest
    * hit (a real duplicate, or a bloom false positive at the per-append
    * fpp of ~1e-6 — i.e. a spurious fallback roughly once per million
    * appended ids, see DeltaBatches.BloomFpp's sizing rationale) falls
    * back to the exact index scan. The strict guard stays because a silent
    * duplicate corrupts every subsequent top-k. The sink is the single
    * writer of its indexDir (micro-batches are serial) — don't run batch
    * maintenance appends against the same index while the stream is up.
    */
  def indexSink(vectors: DataFrame, indexDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    persistedBatchSink(vectors, checkpointDir) { (b, _) =>
      graft.operators.AnnIndex.append(b.sparkSession, indexDir, b)
      ()
    }

  /** Streaming ingest dedup against the PERSISTED corpus state — the
    * always-on twin of `DedupState.dedupBatch`: every micro-batch's LSH
    * bands probe the state's band table (built once per corpus snapshot by
    * `DedupStateMain`), survivors append to `outDir`, colliding docs drop.
    * This gates against the WHOLE corpus snapshot without scanning it;
    * compose it BEHIND [[nearDedupStream]] in a deployment — the state
    * probe is corpus-vs-batch ONLY (it never compares a batch against
    * itself or against earlier stream survivors), so within-horizon
    * near-dups are the upstream stage's job, and near-dups of stream
    * survivors arriving AFTER the watermark expired remain undetected
    * until the next `DedupStateMain` rebuild folds survivors into the
    * state — the documented residual window of any snapshot-state gate.
    *
    * foreachBatch (the indexSink pattern) because the verdict is a per-DOC
    * decision over per-BAND collisions — banding explodes each doc to
    * NumBands rows and the doc survives only if NONE collide, a regrouping
    * that would need stream state to express as a plain stream-static
    * join; inside foreachBatch it is the exact shared batch code path
    * ([[graft.operators.DedupOps.incrementalVerdicts]]), so the stream and
    * the batch gate agree by construction. The band table of the state's
    * resolved generation is CACHED once at sink construction, so a
    * micro-batch costs O(batch) against cached bands, not a per-batch
    * state scan. A rebuild installs a new generation beside the one the
    * sink reads (see [[graft.operators.DedupState]]); the running sink
    * keeps gating against its snapshot and re-resolves the tip on
    * restart. The cache is RELEASED when the query terminates (listener
    * below), so a session cycling through sinks/snapshots doesn't
    * accumulate dead cached band tables.
    * Exactly-once effect under foreachBatch's at-least-once replay:
    * survivors land in a PER-MICRO-BATCH directory `batch=<id>` written
    * with overwrite — a replayed micro-batch overwrites its own directory
    * instead of appending duplicates (the indexSink idempotence rule).
    */
  def stateDedupSink(docs: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val bands = graft.operators.DedupState.loadBands(spark, stateDir).persist()
    val query = persistedBatchSink(docs, checkpointDir) { (b, id) =>
      // b is persisted by the scaffolding, so the count is a cache pass;
      // it gates the verdict path's broadcast hints (a backlog batch after
      // stream downtime can exceed what the driver can broadcast)
      val verdicts = graft.operators.DedupOps.incrementalVerdicts(b, bands,
        batchRows = Some(b.count()))
      b.join(verdicts.where(col("status") === "kept"), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }
    // The band cache's lifetime is the QUERY's, not the session's: a
    // session running several sinks over successive state snapshots would
    // otherwise accumulate dead cached band tables (guide §5 — cached data
    // competes with execution memory; unpersist when done).
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          bands.unpersist()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // listener registration raced the (already running) query: if it
    // terminated before the listener attached, the event is already past —
    // release directly instead of leaking until session end
    if (!query.isActive) { bands.unpersist(); spark.streams.removeListener(listener) }
    query
  }

  /** Streaming URL gate — the stateless half of `q_url_curation` on
    * unbounded input: canonicalize (fragment/tracking-param strip,
    * scheme+host lowercasing) and drop blocklisted domains, via the SAME
    * shared expressions and blocklist as the batch operator, so the two
    * surfaces gate identically by construction. The corpus-global
    * per-domain document cap stays in batch compaction — the same
    * bounded-stream/batch split as near-dup dedup; its in-horizon
    * approximation is [[domainRateCapStream]].
    */
  def urlFilterStream(docs: DataFrame, urlCol: String = "url"): DataFrame =
    graft.operators.TextAnalysisOps.withCanonUrl(docs, urlCol)
      .where(!col("domain").isin(graft.operators.TextAnalysisOps.UrlBlocklist: _*))

  /** [[urlFilterStream]] with the blocklist as a TABLE instead of a
    * compiled-in literal — the deployment shape: abuse/takedown blocklists
    * are maintained out-of-band (thousands of domains, refreshed by their
    * own pipeline) and the stream must pick them up on restart without a
    * redeploy. A stream-static LEFT ANTI join; the static side is
    * broadcast, so the gate stays a map-side probe per micro-batch — the
    * unbounded stream never shuffles. Expects a `domain` column holding
    * registrable domains in the same form `withCanonUrl` derives (no
    * scheme/userinfo/port/`www.`). Unparseable URLs yield an EMPTY-STRING
    * domain (Spark's regexp_extract returns '', not NULL, on no match) and
    * must pass — the gate drops LISTED domains, it is not a validity
    * filter — so the static side is sanitized against blank rows here: a
    * real blocklist ingested from a text file with one empty line would
    * otherwise silently drop every unparseable-URL doc.
    */
  def blocklistTableGateStream(
      docs: DataFrame, blocklist: DataFrame, urlCol: String = "url"): DataFrame =
    graft.operators.TextAnalysisOps.withCanonUrl(docs, urlCol)
      .join(broadcast(blocklist
        // trim BEFORE the blank filter: a hand-edited list file carries
        // both empty lines and whitespace-padded domains, and a padded
        // 'evil.example.org ' would otherwise never match the canonical
        // form — a takedown-listed domain silently passing the gate
        .select(trim(col("domain")).as("domain"))
        .where(col("domain").isNotNull && length(col("domain")) > 0)),
        Seq("domain"), "left_anti")

  /** One admitted doc after the per-domain-per-window cap. */
  final case class CappedDoc(domain: String, window_start: Timestamp,
      window_end: Timestamp, ts: Timestamp, doc_id: String, canon_url: String)

  /** Streaming per-domain RATE cap — the watermark-bounded, in-horizon
    * approximation of `q_url_curation`'s corpus-global per-domain cap: at
    * most `maxPerWindow` docs per canonical domain per tumbling event-time
    * window pass; the rest drop in-stream. Batch compaction still owns the
    * exact corpus-global cap (it sees all history); this stage exists so a
    * crawler burst or a single hot domain cannot flood the sink between
    * compactions.
    *
    * Shape: domains come from the SAME `withCanonUrl` expressions as the
    * batch operator and the URL gate, then a `flatMapGroupsWithState`
    * keyed by (domain, window_start) holds ONE counter per key — admitted
    * docs flow through, the counter survives across micro-batches (doc
    * N+1 arriving in a later micro-batch of the same window still drops),
    * and an event-time timeout at window end evicts the counter once the
    * watermark passes it, so state is bounded by (active domains ×
    * windows inside the horizon), never corpus-global. Within one
    * micro-batch, admission order is (ts, doc_id) so replays admit the
    * same docs.
    */
  def domainRateCapStream(
      docs: DataFrame,
      maxPerWindow: Int,
      urlCol: String = "url",
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): Dataset[CappedDoc] = {
    require(maxPerWindow > 0, s"maxPerWindow must be positive, got $maxPerWindow")
    val s = docs.sparkSession
    import s.implicits._
    graft.operators.TextAnalysisOps.withCanonUrl(docs, urlCol)
      .withWatermark("ts", watermark)
      .withColumn("w", window(col("ts"), windowLen))
      .select(col("domain"), col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("ts"), col("doc_id"), col("canon_url"))
      .as[CappedDoc]
      .groupByKey(r => (r.domain, r.window_start.getTime))
      .flatMapGroupsWithState[Long, CappedDoc](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val admittedSoFar = state.getOption.getOrElse(0L)
            val remaining = math.max(0L, maxPerWindow - admittedSoFar).toInt
            // Bounded selection, NOT a full materialize+sort: a hot-domain
            // burst can deliver millions of rows for one key in a single
            // micro-batch — exactly the case the cap exists for — and only
            // `remaining` of them can be admitted. A max-heap of the
            // current best `remaining` rows keyed by (ts, doc_id) admits
            // the identical set in O(n log remaining) time and
            // O(remaining) memory; overflow rows stream straight through
            // the iterator and are dropped unbuffered.
            implicit val ord: Ordering[CappedDoc] =
              Ordering.by(r => (r.ts.getTime, r.doc_id))
            val heap = scala.collection.mutable.PriorityQueue.empty[CappedDoc]
            var windowEnd = 0L
            rows.foreach { r =>
              windowEnd = r.window_end.getTime
              if (remaining > 0) {
                if (heap.size < remaining) heap.enqueue(r)
                else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
              }
            }
            val admit = heap.dequeueAll.reverse // ascending (ts, doc_id)
            state.update(admittedSoFar + admit.size)
            // rows of this key all share the window; timeout at its end —
            // the watermark passing it means no more rows can arrive
            state.setTimeoutTimestamp(windowEnd)
            admit.iterator
          }
      }
  }

  /** Streaming corpus curation — the batch curation pipeline's stateless
    * stages (quality gate, PII scrub) run UNCHANGED on unbounded input
    * (same Catalyst expressions, shared with `q_quality_score` /
    * `q_pii_scrub` via `Idioms` and TextAnalysisOps), composed with the watermark-
    * bounded exact dedup. The near-dup/decontamination stages stay batch:
    * they need corpus-global joins, which is exactly the
    * bounded-horizon-stream + periodic-batch-compaction split a 100 TB/day
    * ingest runs.
    */
  def curateStream(
      docs: DataFrame,
      minQuality: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame =
    dedupStream(docs, watermark)
      .withColumn("toks", expr(graft.operators.Idioms.toksSpark))
      .where(expr("size(toks) > 0"))
      .withColumn("quality", graft.operators.Idioms.qualityOfToks)
      .where(col("quality") >= minQuality)
      .withColumn("scrubbed", graft.operators.TextAnalysisOps.scrubPii(col("text")))
      .select(col("ts"), col("doc_id"), col("scrubbed"), col("quality"))

  /** Per-doc running span counter with explicit state (the incremental
    * lineage counterpart): emits (doc_id, total_spans_so_far) per update.
    */
  final case class DocProgress(doc_id: String, spans_total: Long)
  def runningSpanCounts(spans: Dataset[(String, Int)]): Dataset[DocProgress] = {
    import spans.sparkSession.implicits._
    spans.groupByKey(_._1)
      .mapGroupsWithState[Long, DocProgress](GroupStateTimeout.NoTimeout) {
        (docId: String, rows: Iterator[(String, Int)], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val total = prev + rows.map(_._2.toLong).sum
          state.update(total)
          DocProgress(docId, total)
      }
  }
}
