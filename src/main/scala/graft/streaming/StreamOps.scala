package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.StoreFiles
import java.sql.Timestamp

/** Structured-Streaming operators over the `events` table (SURVEY.md §2.9
  * ST1–ST6). The reference's "stream" is its interactive chat loop — each
  * Send click mutates per-session state (`/root/reference/AI.py:163-185`,
  * session store at `AI.py:155-161`, clear at `AI.py:232-235`); here that
  * becomes watermark-bounded windowed aggregation and
  * `flatMapGroupsWithState` session state.
  *
  * Every transform takes a DataFrame so it runs identically on a batch
  * frame (tests, Verify) and a `readStream` frame (production): Spark's
  * unified batch/streaming semantics do the rest.
  */
object StreamOps {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Session state mirroring the reference's `SimpleChatMessageHistory`
    * (`AI.py:19-30`): an append-only bounded message list per session.
    */
  final case class SessionAgg(
      user_id: Long, n_events: Long, sum_value: Double,
      first_ts: Timestamp, last_ts: Timestamp, last_types: Seq[String])

  /** S7: replay the events fixture as a REAL stream — schema'd parquet
    * directory source (nanosecond ts read as long, converted). Combine
    * with `Trigger.AvailableNow` to drain the table once, or the default
    * trigger to follow new files.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.ensureNanosAsLong(spark)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
  }

  /** ST1: tumbling/sliding window aggregate with watermark (ST3). */
  def windowedAgg(
      events: DataFrame,
      windowDur: String = "10 minutes",
      slideDur: Option[String] = None,
      watermark: String = "10 minutes"): DataFrame = {
    val win = slideDur match {
      case Some(s) => window(col("ts"), windowDur, s)
      case None => window(col("ts"), windowDur)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** ST2: session window (gap-based) per user. */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** ST6: streaming dedup by event_id within the watermark. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** E2 as a STREAM (S7 × J1/T2): a stream of (query_id, query_text)
    * retrieved per micro-batch against the STATIC chunk index with the
    * same bounded-top-k batch operator (`RagPipeline.retrieve`) — the
    * reference's interactive ask loop (`/root/reference/AI.py:163-185`)
    * as continuous processing. Per-query top-k needs a full rank over
    * the candidate set, which append-mode streaming cannot express over
    * an unbounded stream; `foreachBatch` scopes it to the micro-batch,
    * the standard stream-static retrieval pattern. The index side stays
    * a static DataFrame — broadcast or bucketed exactly as in batch —
    * so only the (small) query stream flows between triggers.
    */
  def streamingRetrieve(
      queries: DataFrame,
      index: DataFrame,
      k: Int = 4)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(graft.rag.RagPipeline.retrieve(batch.toDF(), index, k), id)
      }

  /** The reference's complete interactive ask loop as ONE stream
    * (`/root/reference/AI.py:163-185`): per micro-batch of
    * `(query_id, user_id, question)` rows —
    *
    *  1. history-aware retrieval (`AI.py` `create_history_aware_retriever`):
    *     the remote LLM question-condenser is out of scope exactly like
    *     the remote embedder; its deterministic stand-in prefixes the
    *     user's last `maxHistory` turns to the question before
    *     embedding, preserving the data-flow shape
    *     history → condensed query → retrieve;
    *  2. top-k retrieval against the static chunk index + stuff-chain
    *     context assembly (`RagPipeline.retrieve`/`assembleContext`);
    *  3. the answer is the assembled context passed through
    *     `RagPipeline.postProcess` (refusal rewrite + first-line
    *     truncation, `AI.py:176-185`) — the LLM generation step is a
    *     deterministic identity here;
    *  4. both turns land in the per-user history served to the NEXT
    *     batch (`SimpleChatMessageHistory.append`, `AI.py:19-30`), and
    *     a question equal to `clear` resets that user's history
    *     (`clear_messages`, `AI.py:232-235`).
    *
    * History is driver-held per stream instance and BOUNDED: each batch
    * prunes to the last `maxHistory` turns per user BEFORE
    * checkpointing (a per-user row_number window over (batch, seq)
    * desc), so long-running streams hold O(users × maxHistory) rows —
    * per-batch work does not grow with stream age. Turn order is the
    * pair (batch id, per-user row number within the batch), which
    * cannot collide or misorder at any query_id. Lineage is
    * checkpoint-truncated per batch — the per-user durable variant
    * would key a history table the way the ANN index is persisted.
    */
  def streamingChat(
      questions: DataFrame, // (query_id, user_id, question)
      index: DataFrame,
      k: Int = 4,
      maxHistory: Int = 4,
      // the per-batch retriever: (queries(query_id, query_text), index,
      // k) => (query_id, rank, …, text). Defaults to the dense cosine
      // path; pass `RagPipeline.hybridRetrieve(_, _, _)` to serve the
      // chat loop from the fused dense+BM25 ranking instead — the
      // history condenser, clear semantics, and sink contract are
      // retriever-independent.
      retriever: (DataFrame, DataFrame, Int) => DataFrame =
        graft.rag.RagPipeline.retrieve(_, _, _))(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val historyRef =
      new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    questions.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val b = batch.toDF()
          val clears = b.filter(col("question") === "clear")
            .select("user_id").distinct()
          val asks = b.filter(col("question") =!= "clear")
          val hist = Option(historyRef.get())
          // drop cleared users' history first (a clear and a question in
          // the SAME batch: the clear applies before the question, like
          // the reference's sequential click handling)
          val kept = hist.map(_.join(clears, Seq("user_id"), "left_anti"))
          // deterministic condenser: last maxHistory turns, turn order =
          // (batch_id, seq) — collision-free at any query_id (ADVICE r5)
          val condensed = kept match {
            case Some(h) =>
              val turns = array_sort(collect_list(struct(col("batch_id"),
                col("seq"),
                concat_ws(" ", col("question"), col("answer")).as("txt"))))
                .getField("txt")
              val perUser = h
                .groupBy("user_id")
                .agg(concat_ws(" ",
                  // slice with a negative start UNDERSHOOTS on arrays
                  // shorter than maxHistory — keep short histories whole
                  when(size(turns) <= maxHistory, turns)
                    .otherwise(slice(turns, -maxHistory, maxHistory)))
                  .as("hist_text"))
              asks.join(perUser, Seq("user_id"), "left")
                .select(col("query_id"), col("user_id"),
                  col("question"),
                  when(col("hist_text").isNull, col("question"))
                    .otherwise(concat_ws(" ", col("hist_text"),
                      col("question"))).as("query_text"))
            case None => asks.select(col("query_id"), col("user_id"),
              col("question"), col("question").as("query_text"))
          }
          val answered = graft.rag.RagPipeline.assembleContext(
            retriever(condensed.select("query_id", "query_text"), index, k))
            .withColumnRenamed("context", "answer")
          val out = condensed.select("query_id", "user_id", "question")
            .join(answered, Seq("query_id"))
          val processed = graft.rag.RagPipeline.postProcess(out)
          sink(processed, id)
          // append this batch's turns to the history the next batch
          // reads; seq = per-user row number within the batch (ordered
          // by query_id), so (batch_id, seq) orders turns with no
          // arithmetic overflow at any query_id
          val seqW = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("query_id")
          val newTurns = processed
            .select(col("user_id"), lit(id).as("batch_id"),
              row_number().over(seqW).as("seq"),
              col("question"), col("answer"))
          val next = kept match {
            case Some(h) => h.unionByName(newTurns)
            case None => newTurns
          }
          // prune BEFORE checkpointing: only the last maxHistory turns
          // per user are ever read, so keeping more would accumulate
          // O(total turns) checkpointed rows over the stream's lifetime
          val pruneW = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id")
            .orderBy(desc("batch_id"), desc("seq"))
          val pruned = next
            .withColumn("rn", row_number().over(pruneW))
            .filter(col("rn") <= maxHistory).drop("rn")
          historyRef.set(pruned.localCheckpoint(true))
          ()
        }
      }
  }

  /** A [[streamingChat]] retriever serving from the PERSISTED index
    * pair ([[graft.rag.RagPipeline.hybridRetrievePersisted]]): the chat
    * loop answers every micro-batch from the stored LSH buckets + BM25
    * postings keyed on `sourceDir` — no per-trigger corpus re-embed or
    * re-tokenization. The first trigger builds (or fingerprint-attaches
    * to) the layouts; later triggers reuse them, and upsert streams on
    * the same `sourceDir` ([[streamingIndexUpsert]] /
    * [[streamingPostingsUpsert]]) extend them live between triggers.
    * Output-identical to the default dense-over-hybrid composition at
    * the recall-1.0 operating point (the q87 equality).
    */
  def persistedHybridRetriever(sourceDir: String)
      : (DataFrame, DataFrame, Int) => DataFrame =
    (queries, index, k) => graft.rag.RagPipeline.hybridRetrievePersisted(
      queries.sparkSession, sourceDir, queries, index, k)

  /** A [[streamingChat]] retriever serving from the PERSISTED SQ8
    * quantized index: every micro-batch answers from the stored int8
    * codes (4× less scan I/O than the float chunk index) with exact
    * re-rank of the m winners — output-identical to the default dense
    * retriever at the shipped m (the q108 equality), so swapping it in
    * changes the I/O profile, not the answers.
    *
    * Freshness shape: the FIRST trigger runs the full
    * [[graft.rag.RagPipeline.retrieveSq8Persisted]] ensure path — one
    * fingerprint pass that builds the layout or detects a chunk corpus
    * that drifted since the stream last ran (a re-chunked corpus under
    * the same sourceDir would otherwise serve stale ids silently);
    * every later trigger goes through the no-probe
    * [[graft.sources.AnnIndex.openSq8]] reader
    * ([[graft.rag.RagPipeline.retrieveSq8Served]]), so steady-state
    * triggers cost the compressed codes scan, not a per-batch
    * fingerprint pass. Mid-stream index growth arrives via a
    * concurrent [[streamingSq8Upsert]] writer, which openSq8's
    * relation-cache refresh picks up.
    */
  def persistedSq8Retriever(sourceDir: String)
      : (DataFrame, DataFrame, Int) => DataFrame = {
    val ensured = new java.util.concurrent.atomic.AtomicBoolean(false)
    (queries, index, k) =>
      if (ensured.compareAndSet(false, true))
        graft.rag.RagPipeline.retrieveSq8Persisted(
          queries.sparkSession, sourceDir, queries, index, k)
      else
        graft.rag.RagPipeline.retrieveSq8Served(
          queries.sparkSession, sourceDir, queries, index, k)
  }

  /** A [[streamingChat]] retriever serving from the PERSISTED PLAID
    * layout (round 15 — the late-interaction serving story completed
    * at the flagship surface): every micro-batch tokenizes the
    * condensed question ([[graft.operators.LateInteraction
    * .queryTokens]]) and answers through the QUANTIZED two-stage
    * clustered serve ([[graft.sources.PlaidIndex.plaidTopKQuantized]]:
    * int8 stage-1 over probed centroid partitions only, exact float
    * MaxSim rerank) — the chat loop pays probed-partitions × int8
    * bytes for its shortlist scan instead of the full float chunk
    * table. Ranking is DOC-level (MaxSim is a document score); each
    * winning doc's context is its chunks' text concatenated in chunk
    * order (the P4 page-concat semantics), so the stuff chain stuffs
    * whole winning documents. Identity: at an
    * (nProbe, mDocs) point whose stage-1 margin covers the corpus
    * (MaxSimTune `plaidq`), answers equal the full-scan-MaxSim chat
    * loop's byte for byte — StreamOpsSpec pins the twin loops.
    *
    * Freshness shape (the [[persistedSq8Retriever]] idiom): the FIRST
    * trigger runs `ensurePlaid` — one fingerprint pass that builds or
    * attaches, catching a chunk corpus that drifted since the stream
    * last ran; later triggers go through the no-probe `openPlaid`
    * reader inside the serve call (open-per-trigger, the
    * [[streamingPlaidRetrieve]] contract), so steady-state triggers
    * cost meta reads + the quantized probed scan. Mid-stream corpus
    * growth arrives via a concurrent [[streamingPlaidUpsert]] writer.
    */
  def persistedPlaidRetriever(sourceDir: String, nProbe: Int = 16,
      mDocs: Int = 16, lists: Int = 32)
      : (DataFrame, DataFrame, Int) => DataFrame = {
    val ensured = new java.util.concurrent.atomic.AtomicBoolean(false)
    (queries, index, k) => {
      val spark = queries.sparkSession
      if (ensured.compareAndSet(false, true))
        graft.sources.PlaidIndex.ensurePlaid(spark, sourceDir,
          index.select(col("doc_id"), col("chunk_id").as("vec_id"),
            col("embedding")), lists = lists)
      val qt = graft.operators.LateInteraction.queryTokens(queries)
      // winners first (bounded: k rows per query, eager), THEN the
      // per-doc text concat restricted to them — the context aggregate
      // costs the winning docs' chunks, never a corpus-sized groupBy
      val top = graft.sources.PlaidIndex
        .plaidTopKQuantized(spark, sourceDir, qt, k, nProbe, mDocs)
        .localCheckpoint(true)
      top.join(docConcatText(index.join(
          broadcast(top.select("doc_id").distinct()), Seq("doc_id"),
          "left_semi")), Seq("doc_id"))
        .select("query_id", "rank", "doc_id", "score", "text")
    }
  }

  /** Per-doc context text for the doc-level retrievers: the document's
    * chunk texts concatenated in chunk order (P4 semantics) — shared by
    * [[persistedPlaidRetriever]] and its full-scan identity twin in
    * the spec.
    */
  private[graft] def docConcatText(index: DataFrame): DataFrame =
    index.groupBy("doc_id")
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_id"), col("text"))))
          .getField("text")).as("text"))

  /** Streaming retrieval served by the PERSISTED LSH index: each query
    * micro-batch re-attaches to the stored layout via
    * [[graft.sources.AnnIndex.openLsh]] — the no-probe reader path built
    * for exactly this — and answers through
    * [[graft.sources.AnnIndex.queryLsh]]. Composed with
    * [[streamingIndexUpsert]] on the same `sourceDir`, this closes the
    * reference's upsert-then-ask loop (`AI.py:53-55` upsert, `AI.py:138`
    * query) as two independent streams: a vector ingested in batch N is
    * findable by queries from batch N+1 on, with no rebuild, restart, or
    * shared driver state — the coupling is the stored index alone.
    * `openLsh` per trigger costs one meta read + idempotent catalog
    * attach (no data scan); the per-batch query plan is the same
    * broadcast probe-set equi-join as batch queryLsh.
    */
  def streamingIndexRetrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      probes: Int = 48)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openLsh(batch.sparkSession, sourceDir)
          sink(graft.sources.AnnIndex.queryLsh(batch.toDF(), h, k, probes), id)
        }
      }

  /** S4-as-a-stream: continuous index maintenance. New vectors arriving
    * on `vecs(vec_id, embedding)` are appended into the persisted LSH
    * index once per micro-batch via
    * [[graft.sources.AnnIndex.upsertLsh]] — each trigger costs O(batch)
    * signature work plus a bucketed append, never an index rebuild, and
    * the index stays queryable between triggers (readers attach via
    * [[graft.sources.AnnIndex.openLsh]]). `foreachBatch` is the right
    * scope: the upsert is a whole-batch sink action, not a row
    * transform. Delivery is Structured Streaming's at-least-once for
    * foreachBatch; the batchId is recorded in the index meta and a
    * replayed batch is SKIPPED (the idempotent-foreachBatch recipe) —
    * without it, replayed appends would duplicate vecs rows, multiply
    * rerank candidates, and could push duplicate vec_ids into a query's
    * top-k until a rebuild. See [[graft.sources.AnnIndex.upsertLsh]]
    * for the one remaining crash window (between append and meta
    * commit).
    */
  def streamingIndexUpsert(
      vecs: DataFrame,
      sourceDir: String,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertLsh(batch.sparkSession, sourceDir,
            batch.toDF(), tables, bits, storageBuckets, batchId = Some(id))
          ()
        }
      }

  /** [[streamingIndexUpsert]]'s lexical twin: documents arriving on
    * `docs(doc_id, text)` extend the persisted BM25 postings once per
    * micro-batch ([[graft.sources.KeywordIndex.upsertPostings]] —
    * O(batch) tokenization + a plain append, batchId replay-skip).
    * Because BM25's corpus statistics are derived at query time from
    * the merged postings, a reader attaching between triggers scores
    * EXACTLY as if the index had been rebuilt — the streaming ingest
    * has no recall caveat at all.
    */
  def streamingPostingsUpsert(
      docs: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.KeywordIndex.upsertPostings(batch.sparkSession,
            sourceDir, batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIndexUpsert]]'s quantized twin: vectors arriving on
    * `vecs(vec_id, embedding)` extend the persisted SQ8 index once per
    * micro-batch ([[graft.sources.AnnIndex.upsertSq8]] — per-row
    * quantization, O(batch) append, batchId replay-skip). Because
    * quantization carries no global statistics, the streamed index is
    * ROW-IDENTICAL to a full rebuild after every trigger — the
    * streaming ingest has no recall caveat, like the postings stream
    * and unlike IVF (whose centroids drift from the trained base).
    */
  /** Streaming heavy hitters: the mergeable Misra–Gries summary
    * ([[graft.functions.expressions.FreqSketchAgg]]) as a streaming
    * aggregate — per trigger (complete mode) one row holding the
    * bounded candidate list + delta over EVERYTHING seen so far. The
    * state store carries the serialized sketch (≤ 2·capacity
    * entries), not the stream's history — the whole point of sketching
    * a stream. Same contract as batch: any item with true count >
    * delta is guaranteed present, est ≤ true ≤ est + delta.
    */
  def streamingHeavyHitters(items: DataFrame, itemCol: String,
      capacity: Int): DataFrame =
    items.groupBy()
      .agg(graft.functions.expressions.FreqSketchAgg
        .freq_sketch(col(itemCol), capacity).as("sk"))
      .select(col("sk.items").as("items"), col("sk.delta").as("delta"))

  /** Streaming drift gate: every micro-batch is PSI-scored against the
    * static reference distribution ([[graft.operators.Drift.psi]]) and
    * the per-batch verdict handed to `onBatch` — the per-increment QA
    * gate run BEFORE a batch is admitted into the training mix (the
    * caller typically diverts drifted batches to quarantine). The
    * reference's bucket counts are computed once per trigger from the
    * (small, typically cached) reference frame; the batch side is one
    * bounded bucket aggregate.
    */
  def streamingDriftGate(
      batches: DataFrame,
      ref: DataFrame,
      metricCol: String,
      buckets: Int,
      lo: Double,
      hi: Double)(
      onBatch: (Long, Double) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val psi = graft.operators.Drift
            .psi(ref, batch.toDF(), col(metricCol), buckets, lo, hi)
            .select("psi").head().getDouble(0)
          onBatch(id, psi)
        }
      }

  /** Streaming incremental dedup export: each micro-batch is deduped
    * against the PERSISTED fingerprint store
    * ([[graft.sources.DedupStore.dedupBatch]] — first-arrival-wins
    * across the whole stream's history, min-id within a batch) and the
    * KEPT rows land in `outDir` partitioned by batch_id with DYNAMIC
    * partition overwrite — so a crash-replayed micro-batch, whose kept
    * set the store reconstructs byte-identically, overwrites its own
    * partition instead of appending a duplicate: the export is
    * exactly-once per content end to end.
    */
  def streamingDedupStore(
      docs: DataFrame,
      storeKey: String,
      outDir: String,
      idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val kept = graft.sources.DedupStore.dedupBatch(
            batch.sparkSession, storeKey, batch.toDF(), batchId = id,
            idCol = idCol, textCol = textCol)
          kept.withColumn("batch_id", lit(id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outDir)
        }
      }

  /** Streaming per-group distinct tracking: each micro-batch lands as
    * an immutable KMV pane in the persisted
    * [[graft.sources.SketchStore]] (pane id = the streaming batch id,
    * so Structured Streaming's idempotent-foreachBatch retry contract
    * maps 1:1 onto the store's structural exactly-once — a replayed
    * micro-batch verifies its pane re-derives and no-ops).
    * `SketchStore.read` serves the merged per-group sketch at any
    * point; because a KMV is a pure function of the item SET, the
    * served answer is independent of micro-batch boundaries (the spec
    * certifies equality with the one-shot batch sketch).
    */
  def streamingDistinctPanes(
      items: DataFrame,
      storeKey: String,
      groupCol: String,
      itemCol: String,
      k: Int,
      seed: Long)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    items.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.sources.SketchStore.update(batch.sparkSession, storeKey,
            batch.toDF(), groupCol, col(itemCol), batchId = id, k = k,
            seed = seed)
      }

  def streamingSq8Upsert(
      vecs: DataFrame,
      sourceDir: String,
      storageBuckets: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertSq8(batch.sparkSession, sourceDir,
            batch.toDF(), storageBuckets, batchId = Some(id))
          ()
        }
      }

  /** [[streamingSq8Upsert]]'s DELETE twin: id batches arriving on
    * `ids(vec_id)` tombstone the persisted SQ8 index once per
    * micro-batch ([[graft.sources.AnnIndex.deleteSq8]] — O(batch)
    * co-bucketed append, replay-skip on the delete stream's OWN batch
    * counter so an interleaved upsert stream can't mask a replayed
    * delete). Deletes become visible to every reader at its next
    * open/attach; [[graft.sources.AnnIndex.compactSq8]] folds them
    * physically between ingest windows.
    */
  def streamingSq8Delete(
      ids: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.deleteSq8(batch.sparkSession, sourceDir,
            batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIndexRetrieve]]'s quantized twin: each query
    * micro-batch re-attaches to the stored SQ8 layout via
    * [[graft.sources.AnnIndex.openSq8]] (meta read + catalog attach or
    * refresh, no data scan) and answers through `querySq8` — the
    * compressed-codes scan + exact re-rank, output-identical to the
    * exact kNN at the shipped m.
    */
  def streamingSq8Retrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      m: Int = 32)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openSq8(batch.sparkSession, sourceDir)
          sink(graft.sources.AnnIndex.querySq8(batch.toDF(), h, k, m), id)
        }
      }

  /** [[streamingSq8Upsert]]'s composed-index twin: vectors arriving on
    * `vecs(vec_id, embedding)` extend the persisted IVF-SQ8 index once
    * per micro-batch ([[graft.sources.AnnIndex.upsertIvfSq8]] —
    * assignment to the STORED centroids + per-row quantization, O(batch)
    * append into the probed-list layout, batchId replay-skip). Unlike
    * the plain-SQ8 stream this one carries the IVF drift contract: the
    * centroid-drift gate fails a batch LOUDLY when the accumulated tail
    * would overwhelm the trained base — a failed trigger beats a
    * silently degraded serving index; rebuild (`ensureIvfSq8`) to
    * retrain, then resume the stream.
    */
  def streamingIvfSq8Upsert(
      vecs: DataFrame,
      sourceDir: String,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertIvfSq8(batch.sparkSession, sourceDir,
            batch.toDF(), lists, iters, storageBuckets, batchId = Some(id))
          ()
        }
      }

  /** [[streamingSq8Retrieve]]'s composed-index twin: each query
    * micro-batch re-attaches to the stored IVF-SQ8 layout via
    * [[graft.sources.AnnIndex.openIvfSq8]] (meta read + catalog attach
    * or refresh, no data scan) and answers through `queryIvfSq8` — the
    * centroid probe → DPP-pruned quantized-list scan → exact re-rank.
    */
  def streamingIvfSq8Retrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 32)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openIvfSq8(batch.sparkSession,
            sourceDir)
          sink(graft.sources.AnnIndex.queryIvfSq8(batch.toDF(), h, k,
            nProbe, m), id)
        }
      }

  /** [[streamingIvfSq8Upsert]]'s late-interaction twin: CHUNK vectors
    * arriving on `chunks(doc_id, vec_id, embedding)` extend the
    * persisted PLAID layout once per micro-batch
    * ([[graft.sources.PlaidIndex.upsertPlaid]] — assignment to the
    * STORED centroids, O(batch) append into the centroid-partitioned
    * lists + membership table, batchId replay-skip). Carries the IVF
    * drift contract: the gate fails a batch LOUDLY when the
    * accumulated un-clustered tail would overwhelm the trained base —
    * rebuild (`ensurePlaid`) to re-cluster, then resume the stream.
    */
  def streamingPlaidUpsert(
      chunks: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    chunks.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.PlaidIndex.upsertPlaid(batch.sparkSession,
            sourceDir, batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIvfSq8Retrieve]]'s late-interaction twin: each
    * micro-batch of TOKENIZED queries `(query_id, qpos, qvec)`
    * re-attaches to the stored PLAID layout
    * ([[graft.sources.PlaidIndex.openPlaid]] — meta read + catalog
    * attach or refresh, no data scan) and answers through the
    * quantized two-stage serving path (probed-partition int8 stage 1,
    * exact float rerank) — the pattern a live retrieval endpoint over
    * a streamed chunk corpus runs beside [[streamingPlaidUpsert]].
    */
  def streamingPlaidRetrieve(
      queryTokens: DataFrame,
      sourceDir: String,
      k: Int = 4,
      nProbe: Int = 16,
      mDocs: Int = 16)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queryTokens.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          sink(graft.sources.PlaidIndex.plaidTopKQuantized(
            batch.sparkSession, sourceDir, batch.toDF(), k, nProbe,
            mDocs), id)
        }
      }

  /** [[streamingIvfSq8Upsert]]'s PQ twin: vectors arriving extend the
    * persisted IVF-PQ index ([[graft.sources.AnnIndex.upsertIvfPq]] —
    * assignment to the STORED centroids + encoding with the STORED
    * codebook, O(batch) append, batchId replay-skip, drift gate fails
    * a batch loudly when the tail overwhelms BOTH trained artifacts).
    */
  def streamingIvfPqUpsert(
      vecs: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertIvfPq(batch.sparkSession, sourceDir,
            batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIvfSq8Retrieve]]'s PQ twin: open-per-trigger reads of
    * the stored IVF-PQ layout, probe → DPP-pruned ADC scan → exact
    * re-rank.
    */
  def streamingIvfPqRetrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 64)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openIvfPq(batch.sparkSession,
            sourceDir)
          sink(graft.sources.AnnIndex.queryIvfPq(batch.toDF(), h, k,
            nProbe, m), id)
        }
      }

  /** [[streamingSq8Delete]]'s composed-index twin: id batches arriving
    * on `ids(vec_id)` tombstone the persisted IVF-SQ8 index once per
    * micro-batch ([[graft.sources.AnnIndex.deleteIvfSq8]] — embeddings
    * fetched from the bucketed float table, centroid re-derived
    * deterministically, O(batch) co-keyed append; replay-skip on the
    * delete stream's OWN counter so an interleaved upsert stream can't
    * mask a replayed delete). [[graft.sources.AnnIndex.compactIvfSq8]]
    * folds between ingest windows.
    */
  def streamingIvfSq8Delete(
      ids: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.deleteIvfSq8(batch.sparkSession,
            sourceDir, batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIvfSq8Delete]]'s PQ twin: tombstones the persisted
    * IVF-PQ index per micro-batch with the same centroid co-keying and
    * delete-counter replay-skip.
    */
  def streamingIvfPqDelete(
      ids: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.deleteIvfPq(batch.sparkSession,
            sourceDir, batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingSq8Upsert]]'s 1-bit twin: vectors arriving on
    * `vecs(vec_id, embedding)` extend the persisted BQ index once per
    * micro-batch ([[graft.sources.AnnIndex.upsertBq]] — per-row
    * sign-packing, O(batch) append, batchId replay-skip; no trained
    * artifact, so no drift gate).
    */
  def streamingBqUpsert(
      vecs: DataFrame,
      sourceDir: String,
      storageBuckets: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertBq(batch.sparkSession, sourceDir,
            batch.toDF(), storageBuckets, batchId = Some(id))
          ()
        }
      }

  /** [[streamingSq8Delete]]'s 1-bit twin. */
  def streamingBqDelete(
      ids: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.deleteBq(batch.sparkSession, sourceDir,
            batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingSq8Retrieve]]'s 1-bit twin: open-per-trigger reads of
    * the stored BQ layout, Hamming shortlist over the 192-byte codes +
    * exact float re-rank.
    */
  def streamingBqRetrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      m: Int = 256)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openBq(batch.sparkSession, sourceDir)
          sink(graft.sources.AnnIndex.queryBq(batch.toDF(), h, k, m), id)
        }
      }

  /** [[streamingIvfSq8Upsert]]'s 1-bit twin: assignment to the STORED
    * centroids + per-row sign-packing, O(batch) append into the probed
    * list layout; carries the IVF drift gate (the centroids are
    * trained, the BQ layer is not).
    */
  def streamingIvfBqUpsert(
      vecs: DataFrame,
      sourceDir: String,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.upsertIvfBq(batch.sparkSession, sourceDir,
            batch.toDF(), lists, iters, storageBuckets, batchId = Some(id))
          ()
        }
      }

  /** [[streamingIvfSq8Delete]]'s 1-bit twin. */
  def streamingIvfBqDelete(
      ids: DataFrame,
      sourceDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.AnnIndex.deleteIvfBq(batch.sparkSession,
            sourceDir, batch.toDF(), batchId = Some(id))
          ()
        }
      }

  /** [[streamingIvfSq8Retrieve]]'s 1-bit twin: open-per-trigger reads,
    * probe → DPP-pruned Hamming list scan → exact re-rank.
    */
  def streamingIvfBqRetrieve(
      queries: DataFrame,
      sourceDir: String,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 256)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val h = graft.sources.AnnIndex.openIvfBq(batch.sparkSession,
            sourceDir)
          sink(graft.sources.AnnIndex.queryIvfBq(batch.toDF(), h, k,
            nProbe, m), id)
        }
      }

  final case class UserQuestion(
      user_id: Long, ts: Timestamp, question: String)
  final case class UserProfile(
      user_id: Long, n_questions: Long, profile_vec: Array[Double])

  /** Incrementally-maintained adaptive profiles — the streaming closure
    * of the reference's "learning and adaptation from chat history"
    * (README; realized in batch by
    * [[graft.rag.RagPipeline.adaptiveRetrieve]]). Per-user state is
    * `(sum, count)` — EXACTLY [[graft.functions.VectorMeanAgg]]'s
    * aggregation buffer, mergeable by construction — updated per
    * micro-batch with each question's embedding and emitted as the
    * current mean-embedding profile. Feeding the latest emitted profiles
    * to [[graft.rag.RagPipeline.adaptiveRetrieveWithProfiles]] serves
    * adaptive retrieval without ever recomputing a profile from raw
    * history (profiles equal the batch aggregate up to float-summation
    * order — spec-pinned element-wise).
    *
    * Rows within a batch fold in `(ts, question)` order (deterministic
    * replay); profile state is evicted `stateTtlMs` of EVENT time after
    * the user's last question, the [[sessionState]] TTL discipline —
    * EventTimeTimeout fires on watermark advance (data-driven), where a
    * processing-time timeout would spin empty micro-batches on the
    * default trigger. A profile is long-lived by design (the default TTL
    * is 30 days of event time: a user's taste outlives any session), but
    * unbounded user churn must not grow state forever; re-learning an
    * evicted profile costs only that user's next questions. The
    * watermark also DROPS questions arriving more than `watermark`
    * behind the max observed event time — the [[sessionState]] caveat.
    */
  def streamingProfiles(
      spark: SparkSession,
      questions: Dataset[UserQuestion],
      dim: Int = graft.rag.Embedder.DefaultDim,
      stateTtlMs: Long = 30L * 24 * 60 * 60 * 1000,
      watermark: String = "1 hour"): Dataset[UserProfile] = {
    import spark.implicits._
    def update(
        userId: Long,
        rows: Iterator[UserQuestion],
        state: GroupState[(Array[Double], Long)]): Iterator[UserProfile] = {
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val prior = state.getOption.getOrElse((new Array[Double](dim), 0L))
      val sum =
        if (prior._1.length == dim) prior._1
        else java.util.Arrays.copyOf(prior._1, dim)
      var n = prior._2
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.question))
      sorted.foreach { r =>
        val e = graft.rag.Embedder.embed(r.question, dim)
        var i = 0
        while (i < dim) { sum(i) += e(i); i += 1 }
        n += 1
      }
      state.update((sum, n))
      // timeout strictly above the current watermark (the sessionState
      // recipe); batch execution exposes no watermark — treat as -inf
      val wmk = try state.getCurrentWatermarkMs()
        catch { case _: UnsupportedOperationException => Long.MinValue / 2 }
      val lastMs = sorted.lastOption.map(_.ts.getTime).getOrElse(wmk)
      state.setTimeoutTimestamp(math.max(lastMs + stateTtlMs, wmk + 1))
      if (n == 0L) Iterator.empty
      else Iterator.single(UserProfile(userId, n, sum.map(_ / n)))
    }
    questions
      .withWatermark("ts", watermark)
      .as[UserQuestion]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** ST4/ST5: custom per-session state via flatMapGroupsWithState —
    * accumulates a bounded recent-event-type list (the chat-history
    * analogue); an event_type == "clear" resets state, mirroring
    * `clear_messages` (`AI.py:232-235`). Emits one updated summary row per
    * group per trigger.
    *
    * Late-data semantics: the event-time TTL requires a watermark, and a
    * watermark DROPS late input — on a live stream, events arriving more
    * than `watermark` behind the max observed event time are discarded
    * before reaching the state function (they still count in batch
    * execution, where no watermark exists). Callers needing
    * process-everything semantics must widen `watermark` (at the price
    * of later state eviction); unbounded-state NoTimeout was the
    * pre-TTL behavior and is deliberately no longer offered.
    */
  def sessionState(
      spark: SparkSession,
      events: Dataset[Event],
      maxTypes: Int = 10,
      stateTtlMs: Long = 60L * 60 * 1000,
      watermark: String = "10 minutes"): Dataset[SessionAgg] = {
    import spark.implicits._
    def update(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionAgg]): Iterator[SessionAgg] = {
      // event-time TTL (ST4 per SURVEY §2.9): a session idle past its TTL
      // is evicted when the watermark passes last_ts + TTL — without this
      // state grows unboundedly per user on a real stream
      if (state.hasTimedOut) {
        state.remove()
        return Iterator.empty
      }
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var cur = state.getOption.getOrElse(
        SessionAgg(userId, 0L, 0.0, null, null, Seq.empty))
      var cleared = false
      sorted.foreach { e =>
        if (e.event_type == "clear") {
          cur = SessionAgg(userId, 0L, 0.0, null, null, Seq.empty)
          cleared = true
        } else {
          cur = SessionAgg(
            userId,
            cur.n_events + 1,
            cur.sum_value + e.value,
            if (cur.first_ts == null) e.ts else cur.first_ts,
            e.ts,
            (cur.last_types :+ e.event_type).takeRight(maxTypes))
        }
      }
      if (cleared && cur.n_events == 0L) state.remove()
      else {
        state.update(cur)
        // timeout must sit strictly above the current watermark; the max
        // keeps a just-inside-watermark event from throwing. Batch
        // execution exposes no watermark (timeouts never fire there) —
        // treat it as -infinity
        val wmk = try state.getCurrentWatermarkMs()
          catch { case _: UnsupportedOperationException => Long.MinValue / 2 }
        val lastMs = sorted.lastOption.map(_.ts.getTime).getOrElse(wmk)
        state.setTimeoutTimestamp(math.max(lastMs + stateTtlMs, wmk + 1))
      }
      Iterator.single(cur)
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class BudgetDoc(source: String, doc_id: Long, n_tok: Long)
  final case class AdmitVerdict(source: String, doc_id: Long,
      n_tok: Long, cum_tok: Long, admitted: Boolean)

  final case class FunnelEvent(user_id: Long, event_type: String,
      ts: Timestamp)
  final case class FunnelHit(user_id: Long, step: Int, step_name: String,
      ts: Timestamp)

  final case class SampleItem(grp: String, key: Long)
  final case class SampleSnapshot(grp: String, seq_no: Long, keys: Seq[Long])

  /** Streaming per-stratum TOKEN-BUDGET admission — the trigger-by-
    * trigger twin of [[graft.operators.CorpusOps.budgetAdmit]]'s prefix
    * rule: per stratum the state is the running token total over EVERY
    * document seen (rejected ones advance it too — a stratum that has
    * crossed its budget is closed for good), and a document is admitted
    * iff the total through it stays ≤ `budget`. When the cross-trigger
    * arrival order equals the batch `orderCol` order, the per-document
    * verdicts are IDENTICAL to the batch operator's (StreamOpsSpec pins
    * the parity and the mid-stream close). Within a trigger, rows apply
    * in doc_id order (the arrival tie-break).
    *
    * State: ONE long per stratum — bounded by the stratum universe
    * (domains/languages), not the stream, hence NoTimeout; quota state
    * must survive idle periods by design (an evicted total would
    * silently reopen a closed stratum).
    */
  def streamingBudgetAdmit(
      spark: SparkSession,
      docs: Dataset[BudgetDoc],
      budget: Long): Dataset[AdmitVerdict] = {
    require(budget > 0, s"budget must be positive: $budget")
    import spark.implicits._
    def update(
        source: String,
        rows: Iterator[BudgetDoc],
        state: GroupState[Long]): Iterator[AdmitVerdict] = {
      var consumed = state.getOption.getOrElse(0L)
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        consumed += d.n_tok
        AdmitVerdict(source, d.doc_id, d.n_tok, consumed,
          consumed <= budget)
      }
      state.update(consumed)
      out.iterator
    }
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming twin of [[graft.operators.Funnel.funnelCounts]]: per
    * user, the first-match step chain (a step-i event counts iff it is
    * the next unachieved step, strictly after the previous step's
    * time, and — with `withinMicros` — no later than the step-1 anchor
    * plus the window). Emits ONE append-only [[FunnelHit]] the moment
    * a user first reaches each step; `groupBy(step).count()` downstream
    * (legal after an Append-mode flatMapGroupsWithState) is the live
    * funnel — counts monotone per step by construction, matching the
    * batch operator's n_users level by level.
    *
    * CONTRACT (documented boundary, the [[streamingBudgetAdmit]]
    * discipline): events must arrive per-user in event-time order
    * ACROSS triggers (the partition-by-user, time-ordered-log shape);
    * within a trigger order is free — rows sort by (ts, event order)
    * before the chain advances. An out-of-order earlier step-i event
    * arriving after step i was achieved cannot retroactively lower the
    * anchor, so cross-trigger reordering trades exactness for
    * unbounded buffering — the batch operator is the replayable
    * ground truth, and StreamOpsSpec pins trigger-parity on ordered
    * feeds. State = one ≤ |steps|-length micros array per ACTIVE user,
    * deliberately no TTL: a converted funnel must not reopen.
    */
  def streamingFunnel(
      spark: SparkSession,
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      withinMicros: Option[Long] = None): Dataset[FunnelHit] = {
    require(steps.nonEmpty, "streamingFunnel: need at least one step")
    require(steps.distinct.size == steps.size,
      s"streamingFunnel: repeated step types not supported: $steps")
    require(withinMicros.forall(_ > 0),
      s"streamingFunnel: window must be positive: $withinMicros")
    import spark.implicits._
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
    def update(
        user: Long,
        rows: Iterator[FunnelEvent],
        state: GroupState[Seq[Long]]): Iterator[FunnelHit] = {
      var achieved = state.getOption.getOrElse(Seq.empty)
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos)).foreach { e =>
        val next = achieved.size
        if (next < steps.size && e.event_type == steps(next)) {
          val t = micros(e.ts)
          val afterPrev = achieved.isEmpty || t > achieved.last
          val inWindow = achieved.isEmpty ||
            withinMicros.forall(w => t <= achieved.head + w)
          if (afterPrev && inWindow) {
            achieved = achieved :+ t
            out += FunnelHit(user, next + 1, steps(next), e.ts)
          }
        }
      }
      if (achieved.nonEmpty) state.update(achieved)
      out.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming DATA-CONTRACT gate — the expectations check run per
    * micro-batch BEFORE a batch lands anywhere trusted (the streaming
    * twin of [[graft.operators.DataContract]]): rows satisfying
    * `predicate` append to `mainDir`, violations append to
    * `quarantineDir` (never dropped — a violation is evidence, and
    * replayed quarantine rows are how an operator debugs the
    * producer), and one audit row per trigger
    * (batch_id, n_rows, n_violations) appends to `auditDir`.
    * A null predicate counts as a violation (an expectation that can't
    * be evaluated is not met — the batch operator's rule; the split is
    * [[graft.operators.DataContract.route]], so batch and streaming
    * gates share one routing definition). Replay idempotence (the
    * manifestBatch/SketchStore discipline): a committed
    * `last_batch_id` persists beside the audit output, and a restarted
    * stream re-running an already-committed trigger SKIPS it — the
    * 'trusted' main output never silently double-counts replayed rows.
    * The skip is CONTENT-VERIFIED, not id-trusted (the manifestBatch
    * rule): a skipped trigger's (n_rows, n_violations) must match the
    * committed audit row for that id — a fresh-checkpoint stream whose
    * trigger ids restarted at 0 against existing output dirs carries
    * DIFFERENT content under a committed id, and silently dropping it
    * from the trusted main output would lose new data; it fails loudly
    * instead (point the stream at fresh dirs, or restore the
    * checkpoint). The residual window is a crash between the data
    * appends and the meta commit (that one batch replays as a
    * duplicate — closing it needs an atomically-committing table
    * format, same caveat as every parquet sink here).
    */
  def streamingContractGate(
      rows: DataFrame,
      predicate: org.apache.spark.sql.Column,
      mainDir: String,
      quarantineDir: String,
      auditDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val marked = batch.toDF()
            .withColumn("__ok",
              org.apache.spark.sql.functions.coalesce(predicate,
                org.apache.spark.sql.functions.lit(false)))
            .localCheckpoint(true)
          val routed = graft.operators.DataContract.route(
            marked, col("__ok"))
          val a = routed.audit.head
          val (nRows, nViol) = (a.getLong(0), a.getLong(1))
          if (id <= gateCommittedBatch(auditDir)) {
            // replay-verification: the committed audit row for this id
            // must describe THIS content, else it is not a replay
            val stored = graft.sources.ParquetIO.read(spark, auditDir)
              .filter(col("batch_id") === id)
              .select("n_rows", "n_violations").collect()
            require(stored.exists(r =>
              r.getLong(0) == nRows && r.getLong(1) == nViol),
              s"contract gate '$auditDir': trigger $id is at-or-below " +
                s"the committed last_batch_id but its content " +
                s"($nRows rows, $nViol violations) does not match the " +
                "committed audit row — this is NOT a replay (restarted " +
                "checkpoint against existing output dirs?); use fresh " +
                "main/quarantine/audit dirs per checkpoint, or restore " +
                "the original checkpoint")
          } else {
            routed.main.drop("__ok")
              .write.mode(SaveMode.Append).parquet(mainDir)
            val bad = routed.quarantine.drop("__ok")
            if (!bad.isEmpty)
              bad.write.mode(SaveMode.Append).parquet(quarantineDir)
            Seq((id, nRows, nViol))
              .toDF("batch_id", "n_rows", "n_violations")
              .write.mode(SaveMode.Append).parquet(auditDir)
            gateCommitBatch(auditDir, id) // meta-after-data
          }
        }
      }

  private def gateMeta(auditDir: String) =
    java.nio.file.Paths.get(auditDir, "_gate_meta.json")

  /** The gate's committed trigger high-water mark (−1 when absent). */
  private def gateCommittedBatch(auditDir: String): Long = {
    val p = gateMeta(auditDir)
    StoreFiles.read(p).fold(-1L)(t => StoreFiles.required(
      StoreFiles.nums(t), "last_batch_id", "gate meta", p))
  }

  private def gateCommitBatch(auditDir: String, id: Long): Unit =
    StoreFiles.commit(gateMeta(auditDir), "last_batch_id" -> id)

  /** Incrementally-maintained dataset manifest — the streaming closure
    * of [[graft.operators.Lineage.manifest]]: each micro-batch folds
    * its (row count, md5-52bit row-hash sum) into the store's running
    * totals, exact because the checksum is a SUM (any batch split
    * composes to the one-pass total). batchId replay-skip keeps a
    * replayed trigger from double-counting. At any trigger boundary
    * `Lineage.readManifest` equals the batch manifest over everything
    * ingested so far (StreamOpsSpec pins the parity).
    */
  def streamingManifest(
      rows: DataFrame,
      storeDir: String,
      canon: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Lineage.manifestBatch(storeDir, batch.toDF(),
            canon, id)
          ()
        }
      }

  /** Streaming CDC merge into the PERSISTED SCD2 dimension store —
    * the foreachBatch closure of [[graft.sources.Scd2Store.merge]]
    * (where [[streamingScd2]] holds state in the query, this lands it
    * in the warehouse layout): each micro-batch merges under its
    * trigger id, so replay-skip, crash-retry idempotence, and the loud
    * history-rewrite refusal are the store's own contracts. Feed
    * contract: per-key event-time monotone ACROSS triggers (the CDC
    * ordering guarantee — same as [[streamingScd2]]).
    */
  def streamingScd2Store(
      changes: DataFrame,
      storeKey: String,
      keyCol: String,
      tsCol: String,
      attrCols: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Scd2Store.merge(batch.sparkSession, storeKey,
            batch.toDF(), keyCol, tsCol, attrCols, id)
          ()
        }
      }

  /** Streaming corpus-increment SPLIT assignment — the foreachBatch
    * closure of [[graft.sources.SplitStore.assign]]: each micro-batch
    * of (doc_id, and the batch's match edges packed as doc_id_a/
    * doc_id_b rows in `pairsOf`) assigns write-once train/val/test
    * under the trigger id, so replay-skip, crash-retry idempotence,
    * and the loud cross-split-conflict refusal are the store's own
    * contracts. `pairsOf` derives the batch's match edges from the
    * micro-batch frame (e.g. a probe against an incremental dedup
    * store) — it runs inside the trigger. `onConflict`: the default
    * `"refuse"` KILLS the stream on cross-split evidence (leakage is
    * an operator decision, not a row to drop); long-lived ingests opt
    * into `"quarantine"` — the conflicting component routes to the
    * store's `conflicts/` frame, the rest of the trigger is admitted,
    * and the stream survives (the [[streamingContractGate]] routing
    * discipline).
    */
  def streamingSplitAssign(
      docs: DataFrame,
      storeKey: String,
      pairsOf: DataFrame => DataFrame,
      seed: Long = 77L,
      onConflict: String = "refuse")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val b = batch.toDF().localCheckpoint(true)
          graft.sources.SplitStore.assign(batch.sparkSession, storeKey,
            b.select("doc_id"), pairsOf(b), seed = seed, batchId = id,
            onConflict = onConflict)
          ()
        }
      }

  /** Streaming right-to-be-forgotten — the foreachBatch closure of
    * [[graft.operators.Governance.purgeLogged]]: each micro-batch of
    * ids (an erasure-request feed) purges through every layout in
    * `scope` under its trigger id, appends the roster/receipt/audit
    * compliance trail to `logDir`, and FAILS THE BATCH LOUDLY if any
    * serving surface still shows a purged id (a purge that cannot
    * prove served-nowhere must stop the pipeline, not log-and-carry).
    * Replay-skip, crash-retry idempotence and the two-ledger
    * tombstone/rewrite semantics are [[graft.operators.Governance]]'s
    * own contracts riding the trigger id.
    */
  def streamingPurge(
      ids: DataFrame,
      scope: graft.operators.Governance.PurgeScope,
      logDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val auditDf = graft.operators.Governance.purgeLogged(
            batch.sparkSession, batch.toDF(), scope, logDir, id)
          val leaked = auditDf
            .filter(col("n_served_purged") > 0L).limit(1).collect()
          require(leaked.isEmpty, {
            val r = leaked.head
            s"streamingPurge: purged ids still SERVED on " +
              s"${r.getString(0)}/${r.getString(2)} of store " +
              s"'${r.getString(1)}' (${r.getLong(3)} hits) — the " +
              "erasure cannot be proven; stopping the pipeline"
          })
        }
      }

  /** Streaming vector ingest into the persisted GRAPH index — the
    * foreachBatch closure of [[graft.sources.GraphIndex.upsertGraph]]
    * under trigger ids: each micro-batch of (vec_id, embedding) rows
    * is searched into the graph (the HNSW-insert idea — O(batch ·
    * search), never a rebuild) and appended undirected, so replay-skip
    * and crash-retry idempotence are the store's own batchId contract.
    * The graph must exist (ensureGraph the base corpus first) —
    * upsert's loud guards (unreadable layout, tombstoned re-add)
    * propagate and kill the stream, the correct failure mode for an
    * index that would otherwise silently diverge from its meta.
    */
  def streamingGraphUpsert(
      vecs: DataFrame,
      sourceDir: String,
      beam: Int = 32,
      rounds: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          graft.sources.GraphIndex.upsertGraph(batch.sparkSession,
            sourceDir, batch.toDF(), beam = beam, rounds = rounds,
            batchId = Some(id))
          ()
        }
      }

  final case class ChangeRow(key: Long, ts: Timestamp, value: String)
  final case class Scd2Closed(key: Long, value: String,
      valid_from: Timestamp, valid_to: Timestamp)

  /** Streaming twin of [[graft.operators.Scd2.fromChanges]]: a CDC
    * change feed folds per key into SCD2 intervals incrementally —
    * state is ONE (open value, valid_from) pair per key, each trigger
    * emits the intervals it CLOSED (append mode can't retract, so the
    * open interval lives in state until a later change closes it; a
    * consumer needing point-in-time completeness unions the emitted
    * closed set with the open rows its snapshot store derives).
    * No-op changes (same value again) fold silently, exactly like the
    * batch operator.
    *
    * Feed contract: per-key event-time MONOTONE (the CDC ordering
    * guarantee); a row older than the key's open interval is refused
    * LOUDLY — silently accepting it would rewrite history that closed
    * intervals downstream already consumed. StreamOpsSpec pins
    * trigger-split invariance: closed intervals across any batch
    * split equal the batch operator's closed set.
    */
  def streamingScd2(
      spark: SparkSession,
      changes: Dataset[ChangeRow]): Dataset[Scd2Closed] = {
    import spark.implicits._
    def update(
        key: Long,
        rows: Iterator[ChangeRow],
        state: GroupState[(String, Timestamp)]): Iterator[Scd2Closed] = {
      var open = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.value))
        .foreach { r =>
          open match {
            case None => open = Some((r.value, r.ts))
            case Some((cur, from)) =>
              // an EXACT duplicate of the opening change (same ts, same
              // value) is a normal at-least-once CDC redelivery — fold
              // it as a no-op, exactly like the batch operator does; the
              // loud failure is reserved for genuine history rewrites
              // (earlier ts, or same ts carrying a DIFFERENT value)
              if (r.ts.equals(from) && r.value == cur) ()
              else if (r.ts.before(from) || r.ts.equals(from))
                throw new IllegalStateException(
                  s"streamingScd2: key $key received a change at ${r.ts} " +
                    s"not after its open interval's valid_from $from — " +
                    "the feed broke the per-key monotone contract; " +
                    "rebuild with the batch Scd2.fromChanges")
              else if (r.value != cur) { // no-op changes fold silently
                out += Scd2Closed(key, cur, from, r.ts)
                open = Some((r.value, r.ts))
              }
          }
        }
      open.foreach(state.update)
      out.iterator
    }
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming twin of [[graft.operators.CorpusOps.samplePerGroup]]:
    * a per-group BOUNDED reservoir holding the k smallest md5-52bit
    * uniforms (the batch operator's exact draw — same md5, same
    * (uniform asc, key asc) order), updated per trigger, emitting one
    * versioned [[SampleSnapshot]] (rank-ordered keys, monotone
    * `seq_no`) per group per trigger it receives data. At ANY trigger
    * boundary the latest snapshot equals the batch operator run over
    * everything ingested so far — deterministic sampling makes the
    * streaming sample replayable, which a random reservoir is not
    * (StreamOpsSpec pins the mid-stream AND final parity).
    *
    * State = at most k (uniform, key) pairs per group — bounded by
    * construction; re-arriving keys fold idempotently (same key, same
    * uniform), so at-least-once delivery cannot corrupt the sample.
    */
  def streamingSamplePerGroup(
      spark: SparkSession,
      items: Dataset[SampleItem],
      k: Int,
      seed: Long): Dataset[SampleSnapshot] = {
    require(k >= 1, s"k must be positive: $k")
    import spark.implicits._
    def hv(key: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(
        s"$key:$seed".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v >>> 4
    }
    def update(
        grp: String,
        rows: Iterator[SampleItem],
        state: GroupState[(Long, Seq[(Long, Long)])]): Iterator[SampleSnapshot] = {
      val (seq, winners) = state.getOption.getOrElse((0L, Seq.empty))
      val merged = (winners ++ rows.map(i => (hv(i.key), i.key)))
        .distinct.sorted.take(k)
      state.update((seq + 1, merged))
      Iterator.single(SampleSnapshot(grp, seq + 1, merged.map(_._2)))
    }
    items.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }
}
