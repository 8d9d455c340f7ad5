package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Incremental exact-dedup against a PERSISTED fingerprint store — the
  * growing-corpus shape (a daily crawl increment must dedup against
  * everything ever ingested without re-reading it). `Dedup.exact`
  * re-hashes the whole corpus per run; this keeps the seen-set on disk
  * and prices each new batch at O(|batch| + matching store partitions).
  *
  * Layout: `fps/` parquet partitioned by `hb` (hash bucket, hash mod
  * `HashDirs`) holding (h, doc id, batch_id); `_dedup_meta.json`
  * committed AFTER data through [[StoreFiles.commit]]. A batch probe
  * reads ONLY its hash-bucket
  * partitions (static pruning — the batch's distinct `hb` set is ≤
  * `HashDirs`, collected bounded), so the store is never scanned
  * whole; the anti-join exchange carries 8-byte hashes.
  *
  * Batch semantics (the `Dedup.exact` keep-min convention, streamed):
  * a row is KEPT iff its text-hash was never recorded by an earlier
  * batch AND it has the minimum id among this batch's rows with that
  * hash. Kept fingerprints append with this `batchId`; a replayed
  * batch (id ≤ meta's `last_batch_id`, the idempotent-foreachBatch
  * contract) appends nothing and RECONSTRUCTS its original answer from
  * the store — the rows whose fingerprints carry exactly this batch id
  * — so crash-retry emits byte-identical output. Hash collisions
  * conflate texts with probability ≈ 2⁻⁶⁴ per pair (the q30 trade).
  */
object DedupStore {

  /** Hash-bucket partition count. 256 keeps fixture layouts small; a
    * 100 TB store raises it (e.g. 4096) so batch probes prune harder.
    */
  val HashDirs = 256

  private def base(spark: SparkSession, storeKey: String): String =
    s"${AnnIndex.annBase(spark)}/graft_dedupstore_${IndexStore.pathTag(storeKey)}"

  /** Store-dir read without the per-call schema-inference job (the
    * [[ParquetIO.read]] rationale): every live dir this store reads has
    * a fixed layout, and the partitioned ones (`fps`/`linedf` by hash
    * bucket `hb`, `bands` by band bucket `bb`) declare the column their
    * write path's `partitionBy` dropped from the data files.
    */
  private def readStoreDir(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val partCols =
      if (dir.endsWith("/bands")) Seq(StructField("bb", IntegerType))
      else if (dir.endsWith("/fps") || dir.endsWith("/linedf"))
        Seq(StructField("hb", IntegerType))
      else Nil // sigs: flat
    ParquetIO.read(spark, dir, partCols)
  }

  private def metaFile(b: String) = Paths.get(b, "_dedup_meta.json")

  private def nRows(b: String): Long =
    StoreFiles.readNums(metaFile(b)).getOrElse("n_rows", 0L)

  /** Rows of `batch` kept under incremental dedup, with the store
    * updated (or replayed — see object doc). Returns full batch rows.
    */
  def dedupBatch(spark: SparkSession, storeKey: String, batch: DataFrame,
      batchId: Long, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    val fpsDir = s"$b/fps"
    // a gutted layout (crashed compaction's rename window) must not be
    // silently treated as "store empty" — every past fingerprint would
    // be forgotten and re-admitted; fail loudly, recover via drop +
    // re-ingest (or restore the compaction side dir by hand)
    require(meta.getOrElse("n_rows", 0L) == 0L ||
      Files.exists(Paths.get(fpsDir)),
      s"dedup store '$storeKey' meta claims ${meta("n_rows")} fingerprints " +
        "but the fps dir is missing (crashed compaction?) — drop() and " +
        "re-ingest, or restore fps__compact manually")
    val hashed = batch.select(col(idCol),
        xxhash64(col(textCol)).as("h"))
      .withColumn("hb", pmod(col("h"), lit(HashDirs.toLong)).cast("int"))
    // within-batch winner per hash: the minimum id (Dedup.exact order)
    val firstInBatch = hashed.groupBy("h", "hb")
      .agg(min(idCol).as(idCol))
    if (meta.get("last_batch_id").exists(batchId <= _)) {
      // replay: the original answer is exactly the fingerprints this
      // batch id recorded. VERIFY it really is a replay: every stored
      // fingerprint of this batch id must re-occur in the batch — a
      // batch-id counter that restarted (fresh checkpoint dir, reused
      // id) would otherwise silently serve an UNRELATED old batch's
      // answer and drop genuinely new content un-deduped, un-stored.
      // an absent fps dir here means the whole window was expired:
      // the replayed batch's fingerprints are gone, the safe answer
      // is the empty kept set (see expireSeen)
      if (!Files.exists(Paths.get(fpsDir)))
        return batch.limit(0)
      val mine = readStoreDir(spark, fpsDir)
        .filter(col("batch_id") === batchId).select("h")
      val foreign = mine.join(hashed.select("h"), Seq("h"), "left_anti")
        .count()
      require(foreign == 0L,
        s"dedup store '$storeKey': batchId $batchId <= last_batch_id " +
          s"${meta("last_batch_id")} but $foreign stored fingerprints of " +
          "that batch are absent from this batch's content — this is NOT " +
          "a replay (restarted batch counter?); re-ingest under a fresh " +
          "batchId or a fresh store")
      return batch.join(
        firstInBatch.join(mine, Seq("h"), "left_semi").select(idCol),
        Seq(idCol), "left_semi")
    }
    // Crash-retry idempotence: the probe ignores THIS batch's own rows
    // (batch_id < batchId) — a retry after an append-but-no-meta crash
    // would otherwise see its partially-committed fingerprints, classify
    // every row as seen, and overwrite the batch's output with an empty
    // kept set (silent permanent loss). With the filter, the retry
    // re-derives the ORIGINAL kept set from exactly the pre-batch store
    // state; the append below then skips rows the crashed attempt
    // already committed, and the meta (never written by the crashed
    // attempt) counts the full kept set once — byte-identical output,
    // exactly-once store state, at any crash point.
    val storeHere =
      if (!Files.exists(Paths.get(fpsDir))) None
      else {
        val hbs = firstInBatch.select("hb").distinct().as[Int].collect()
        Some(readStoreDir(spark, fpsDir)
          .filter(col("hb").isin(hbs.map(Int.box): _*)))
      }
    val novel = storeHere match {
      case None => firstInBatch
      case Some(store) => firstInBatch.join(
        store.filter(col("batch_id") < batchId).select("h"),
        Seq("h"), "left_anti")
    }
    val pinned = novel.localCheckpoint(true) // one computation: write + count
    val toAppend = storeHere match {
      case None => pinned
      case Some(store) => pinned.join(
        store.filter(col("batch_id") === batchId).select("h"),
        Seq("h"), "left_anti")
    }
    toAppend.withColumn("batch_id", lit(batchId))
      .select(col("h"), col(idCol), col("batch_id"), col("hb"))
      .write.mode(SaveMode.Append).partitionBy("hb")
      .parquet(fpsDir)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> (meta.getOrElse("n_rows", 0L) + pinned.count()),
      "last_batch_id" -> batchId)
    batch.join(pinned.select(idCol), Seq(idCol), "left_semi")
  }

  /** Store size per meta (not a scan). */
  def seenCount(spark: SparkSession, storeKey: String): Long =
    nRows(base(spark, storeKey))

  /** The recorded fingerprint frame (h, idCol, batch_id, hb) — exactly
    * what [[dedupBatch]] probes; the [[graft.operators.Governance]]
    * audit surface. Loud on a gutted layout (meta rows but no dir),
    * like the batch probe.
    */
  def readSeen(spark: SparkSession, storeKey: String): DataFrame = {
    val b = base(spark, storeKey)
    val fpsDir = s"$b/fps"
    require(nRows(b) == 0L ||
      Files.exists(Paths.get(fpsDir)),
      s"dedup store '$storeKey' meta claims fingerprints but the fps " +
        "dir is missing (crashed compaction?) — drop() and re-ingest")
    require(Files.exists(Paths.get(fpsDir)),
      s"dedup store '$storeKey' is empty — nothing recorded yet")
    readStoreDir(spark, fpsDir)
  }

  /** Near-dup store membership counts for `docs(doc_id)`: (band rows,
    * signature rows) still held — the [[graft.operators.Governance]]
    * audit surface; (0, 0) on an absent layout.
    */
  def nearServedCounts(spark: SparkSession, storeKey: String,
      docs: DataFrame): (Long, Long) = {
    val b = nearBase(spark, storeKey)
    def cnt(dir: String): Long =
      if (!Files.exists(Paths.get(dir))) 0L
      else readStoreDir(spark, dir)
        .join(docs.select("doc_id"), Seq("doc_id"), "left_semi").count()
    (cnt(s"$b/bands"), cnt(s"$b/sigs"))
  }

  /** The near-dup store's (bands, sigs) frames for the one-job
    * [[graft.operators.Governance.audit]] union — empty doc_id frames
    * on an absent layout.
    */
  def readNearFrames(spark: SparkSession,
      storeKey: String): (DataFrame, DataFrame) = {
    val b = nearBase(spark, storeKey)
    def frame(dir: String): DataFrame =
      if (!Files.exists(Paths.get(dir)))
        spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
      else readStoreDir(spark, dir)
    (frame(s"$b/bands"), frame(s"$b/sigs"))
  }

  // ---------------------------------------------------- line-df twin

  private def lineBase(spark: SparkSession, storeKey: String): String =
    base(spark, storeKey) + "_lines"

  /** Incremental LINE-level dedup against a persisted line-frequency
    * store — [[graft.operators.Dedup.dedupLines]] (the Dolma/CCNet
    * boilerplate cut) streamed batch by batch: the store accumulates
    * per line-hash the number of documents seen across ALL prior
    * batches, and a batch's lines are cut when that accumulated count
    * PLUS the batch's own reaches past `maxDf`. First-arrival
    * leniency is the honest incremental semantics: a boilerplate line
    * below threshold in early batches survives in THOSE batches'
    * (already emitted) output and starts being cut from the batch
    * that pushes it over — exactly what a single-pass batch operator
    * over the union could not emit incrementally.
    *
    * Discipline inherited from [[dedupBatch]] verbatim: hash-bucketed
    * probes (only the batch's `hb` partitions read), the probe
    * ignores this batch's own partially-committed rows (crash-retry
    * re-derives the original answer idempotently), appends skip rows
    * a crashed attempt already committed, meta-after-data, and a
    * replayed batchId reconstructs its original output from the store
    * with a loud verification that it really IS a replay.
    *
    * Output: the batch rewritten (text, n_lines, n_cut — the
    * [[graft.operators.Dedup.dedupLines]] shape).
    */
  def lineDedupBatch(spark: SparkSession, storeKey: String,
      batch: DataFrame, batchId: Long, maxDf: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    import graft.operators.Dedup
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    val b = lineBase(spark, storeKey)
    recoverLinePurge(b) // an interrupted erasure completes before any read
    val meta = StoreFiles.readNums(metaFile(b))
    val dfDir = s"$b/linedf"
    require(meta.getOrElse("n_rows", 0L) == 0L ||
      Files.exists(Paths.get(dfDir)),
      s"line-dedup store '$storeKey' meta claims ${meta.getOrElse("n_rows", 0L)} " +
        "rows but the linedf dir is missing (crashed compaction?) — " +
        "dropLines() and re-ingest")
    val lines = Dedup.lineRows(batch, textCol, idCol)
      .localCheckpoint(false)
    // per-line document frequency WITHIN this batch
    val dfb = lines.select(col(idCol), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .withColumn("hb", pmod(col("lh"), lit(HashDirs.toLong)).cast("int"))
      .localCheckpoint(false)
    val store =
      if (!Files.exists(Paths.get(dfDir))) None
      else {
        val hbs = dfb.select("hb").distinct().as[Int].collect()
        Some(readStoreDir(spark, dfDir)
          .filter(col("hb").isin(hbs.map(Int.box): _*)))
      }
    if (meta.get("last_batch_id").exists(batchId <= _)) {
      // replay: reconstruct from prior-batch counts + this batch's
      // recomputed within-batch counts; verify the stored rows of this
      // batchId match the recomputation (restarted-counter guard).
      // NB the verification reads the store UNPRUNED — the hb pruning
      // keys on the INCOMING batch's buckets, and a restarted counter
      // with unrelated content would prune its own stored rows away
      // and sail through
      if (!Files.exists(Paths.get(dfDir)))
        return batch.limit(0)
          .withColumn("n_lines", lit(0L)).withColumn("n_cut", lit(0L))
      val st = readStoreDir(spark, dfDir)
      val mine = st.filter(col("batch_id") === batchId)
        .select(col("lh"), col("df").as("stored_df"))
      val bad = mine.join(dfb, Seq("lh"), "left")
        .filter(col("df").isNull || col("df") =!= col("stored_df"))
        .count()
      require(bad == 0L,
        s"line-dedup store '$storeKey': batchId $batchId <= last_batch_id " +
          s"${meta("last_batch_id")} but $bad stored line counts of that " +
          "batch don't re-derive from this batch's content — NOT a replay " +
          "(restarted batch counter?); use a fresh batchId or store")
      val prior = st.filter(col("batch_id") < batchId)
        .groupBy("lh").agg(sum("df").as("prior_df"))
      val hot = dfb.join(prior, Seq("lh"), "left")
        .filter(coalesce(col("prior_df"), lit(0L)) + col("df") > maxDf)
        .select("lh")
      return Dedup.cutLines(batch, lines, hot, textCol, idCol)
    }
    val prior = store match {
      case None => None
      case Some(st) => Some(st.filter(col("batch_id") < batchId)
        .groupBy("lh").agg(sum("df").as("prior_df")))
    }
    val hot = prior match {
      case None => dfb.filter(col("df") > maxDf).select("lh")
      case Some(p) => dfb.join(p, Seq("lh"), "left")
        .filter(coalesce(col("prior_df"), lit(0L)) + col("df") > maxDf)
        .select("lh")
    }
    val out = Dedup.cutLines(batch, lines, hot, textCol, idCol)
    val toAppend = store match {
      case None => dfb
      case Some(st) => dfb.join(
        st.filter(col("batch_id") === batchId).select("lh"),
        Seq("lh"), "left_anti")
    }
    val pinned = toAppend.localCheckpoint(true)
    pinned.withColumn("batch_id", lit(batchId))
      .select(col("lh"), col("df"), col("batch_id"), col("hb"))
      .write.mode(SaveMode.Append).partitionBy("hb")
      .parquet(dfDir)
    // meta counts the FULL batch frame (dfb), not the post-exclusion
    // toAppend set: rows a crashed attempt already committed are on
    // disk but were never counted (it died before its meta commit), so
    // counting only `pinned` would permanently undercount after a
    // crash-retry — and dedupBatch's convention counts
    // pinned-before-exclusion too
    StoreFiles.commit(metaFile(b),
      "n_rows" -> (meta.getOrElse("n_rows", 0L) + dfb.count()),
      "last_batch_id" -> batchId)
    out
  }

  /** ERASE the given documents' LINE contributions from the line-df
    * store — [[purgeDocs]]' twin for the one dedup layout whose rows
    * are cross-document AGGREGATES (a line's df counts every doc that
    * carried it), so erasure is a DECREMENT, not a row delete: the
    * caller supplies the purged docs' pre-deletion (id, text), their
    * distinct lines decrement the stored df stream earliest-batch-
    * first (deterministic), and rows reaching 0 disappear. Lines
    * shared with surviving documents correctly REMAIN at the
    * survivors' count — they are other documents' data. Invariant
    * (spec-pinned): the purged store's per-line totals equal a fresh
    * store built from the surviving documents alone.
    *
    * A decrement is NOT naturally idempotent (re-applying it would
    * strip SURVIVORS' units), so this verb is strictly
    * `purgeBatchId`-guarded with its own journaled commit: the
    * decremented copy stages in a side dir, a journal carrying the
    * batch id commits atomically, the dirs swap, the meta's
    * `last_purge_batch_id` advances, the journal clears. A crash at
    * ANY point recovers exactly-once: before the journal the side dir
    * is swept garbage; after it, [[recoverLinePurge]] (run by this
    * verb and by [[lineDedupBatch]]) completes the swap, commits the
    * counter from the journal, and the retry replay-skips. Replayed
    * or out-of-order ids (≤ committed) no-op loudly-silently — the
    * idempotent-foreachBatch contract.
    *
    * Replay consequence for INGEST batches (the [[expireSeen]]
    * precedent): a replayed ingest batchId whose stored rows this
    * purge decremented now FAILS lineDedupBatch's replay verification
    * loudly — reachable only by rolling a checkpoint back past an
    * erasure, an operational error; erasure wins over replay by
    * design. Returns the requested decrement units (the erasure
    * request size; an already-cut line undershoots physically — the
    * parity invariant is the correctness statement).
    */
  def purgeLineContributions(spark: SparkSession, storeKey: String,
      docs: DataFrame, purgeBatchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    val b = lineBase(spark, storeKey)
    val dfDir = s"$b/linedf"
    recoverLinePurge(b)
    if (!Files.exists(Paths.get(dfDir))) return 0L
    val meta = StoreFiles.readNums(metaFile(b))
    if (meta.get("last_purge_batch_id").exists(purgeBatchId <= _))
      return 0L // replay: already applied (or out of order) — skip
    val dec = Dedup.lineRows(docs, textCol, idCol)
      .select(col(idCol), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("dec"))
      .localCheckpoint(true)
    val nDec = dec.agg(coalesce(sum("dec"), lit(0L))).head.getLong(0)
    if (nDec == 0L) {
      commitLinePurge(b, purgeBatchId)
      return 0L
    }
    val sideName = s"linedf__purge_${ProcessHandle.current.pid}"
    val side = s"$b/$sideName"
    StoreFiles.rm(side)
    // earliest-first decrement: row covers units (prefix, prefix+df];
    // it loses its overlap with the removed prefix [0, dec)
    val w = Window.partitionBy("lh").orderBy("batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = readStoreDir(spark, dfDir)
      .join(dec, Seq("lh"), "left")
      .withColumn("__prefix", coalesce(sum("df").over(w), lit(0L)))
      .withColumn("df", col("df") - greatest(lit(0L),
        least(col("__prefix") + col("df"), coalesce(col("dec"), lit(0L)))
          - col("__prefix")))
      .filter(col("df") > 0L)
      .select("lh", "df", "batch_id", "hb")
      .localCheckpoint(true)
    kept.repartition(col("hb"))
      .write.mode(SaveMode.Overwrite).partitionBy("hb").parquet(side)
    val nKept = kept.count()
    // journal commits the purge atomically: from here recovery rolls
    // FORWARD (swap + counter), never re-derives the decrement
    StoreFiles.commit(Paths.get(b, "_purge_journal.json"),
      "side" -> sideName,
      "purge_batch_id" -> purgeBatchId, "n_kept" -> nKept)
    recoverLinePurge(b) // the writer IS the first recoverer
    nDec
  }

  private def commitLinePurge(b: String, id: Long): Unit = {
    val meta = StoreFiles.readNums(metaFile(b))
    if (!meta.get("last_purge_batch_id").exists(id <= _))
      StoreFiles.commit(metaFile(b), ("last_purge_batch_id" -> id) +:
        meta.filterNot(_._1 == "last_purge_batch_id").toSeq: _*)
  }

  /** Roll an interrupted line-purge forward: journal present → finish
    * the dir swap (side present → swap in; absent → already swapped),
    * commit the purge counter and n_rows from the journal, clear it.
    * Orphan side dirs without a journal (crash before commit) are
    * swept. No-op on a clean store.
    */
  private[sources] def recoverLinePurge(b: String): Unit = {
    val jp = Paths.get(b, "_purge_journal.json")
    StoreFiles.read(jp).foreach { txt =>
      val (num, str) = (StoreFiles.nums(txt), StoreFiles.strs(txt))
      def field[V](m: Map[String, V], f: String): V =
        StoreFiles.required(m, f, "line-purge journal", jp)
      val side = Paths.get(b, field(str, "side"))
      val id = field(num, "purge_batch_id")
      val nKept = field(num, "n_kept")
      // an absent side dir: the swap already completed
      if (Files.exists(side))
        StoreFiles.replace(Paths.get(b, "linedf"), side, keep = nKept > 0)
      val meta = StoreFiles.readNums(metaFile(b))
      StoreFiles.commit(metaFile(b),
        Seq("n_rows" -> nKept, "last_purge_batch_id" -> id)
        ++ meta.filterNot(kv =>
          kv._1 == "n_rows" || kv._1 == "last_purge_batch_id").toSeq: _*)
      Files.deleteIfExists(jp)
    }
    // orphan side dirs: a crash before the journal committed
    if (!Files.exists(jp))
      StoreFiles.rmPrefixed(Paths.get(b), "linedf__purge_")
  }

  /** The recorded line-df frame (lh, df, batch_id, hb) — what
    * [[lineDedupBatch]] probes; completes any interrupted erasure
    * first. Loud on an absent layout.
    */
  def readLineDf(spark: SparkSession, storeKey: String): DataFrame = {
    val b = lineBase(spark, storeKey)
    recoverLinePurge(b)
    require(Files.exists(Paths.get(s"$b/linedf")),
      s"line-dedup store '$storeKey' has no linedf layout — ingest a " +
        "first batch")
    readStoreDir(spark, s"$b/linedf")
  }

  /** Remove the line-df store (tests / re-ingest). */
  def dropLines(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(lineBase(spark, storeKey))

  /** Line-store size per meta (not a scan). */
  def lineCount(spark: SparkSession, storeKey: String): Long =
    nRows(lineBase(spark, storeKey))

  // ------------------------------------------------------- near-dup twin

  private def nearBase(spark: SparkSession, storeKey: String): String =
    base(spark, storeKey) + "_near"

  /** Incremental NEAR-dup dedup against a persisted MinHash store —
    * the fuzzy twin of [[dedupBatch]] (production pipelines run
    * exactly this shape on crawl increments: new docs LSH-probe the
    * historical signature store instead of re-banding the corpus).
    *
    * Batch semantics: (1) WITHIN the batch, near-dup clusters form by
    * the full `Dedup.minHashLsh` discipline (banded candidates, EXACT
    * shingle-Jaccard verification, connected components) and the min
    * id per cluster survives; (2) ACROSS batches, a surviving doc is
    * dropped iff it shares an LSH band bucket with a STORED doc AND
    * their signature-estimated Jaccard (fraction of equal minhash
    * components — the store holds signatures, not the corpus) meets
    * the threshold. The estimator's σ ≈ √(t(1−t)/numHashes) (≈ 0.088
    * at t=0.5, 32 hashes) is the honest price of not persisting
    * shingle sets; fixture-level behavior is spec-pinned. Kept docs
    * append their band rows (partitioned by bucket-hash dir, so
    * probes prune) and signatures under this `batchId`; a replayed
    * batch reconstructs its original kept set from the store.
    */
  def nearDedupBatch(spark: SparkSession, storeKey: String,
      batch: DataFrame, batchId: Long, k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.operators.Dedup
    val b = nearBase(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    val bandsDir = s"$b/bands"
    val sigsDir = s"$b/sigs"
    require(meta.getOrElse("n_rows", 0L) == 0L ||
      (Files.exists(Paths.get(bandsDir)) && Files.exists(Paths.get(sigsDir))),
      s"near-dup store '$storeKey' meta claims ${meta("n_rows")} docs but " +
        "a layout dir is missing (crashed compaction?) — dropNear() and " +
        "re-ingest")
    val named = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    if (meta.get("last_batch_id").exists(batchId <= _)) {
      // an absent sigs dir here means the whole window was expired
      // (expireNear): the replayed batch's signatures are gone, the
      // safe answer is the empty kept set (the expireSeen contract)
      if (!Files.exists(Paths.get(sigsDir)))
        return batch.limit(0)
      // replay-verification (the dedupBatch discipline): every doc id
      // this batch id stored must re-occur in the batch, else refuse —
      // a restarted batch counter must not serve a stale answer
      val mine = readStoreDir(spark, sigsDir)
        .filter(col("batch_id") === batchId).select("doc_id")
      val foreign = mine
        .join(named.select("doc_id"), Seq("doc_id"), "left_anti").count()
      require(foreign == 0L,
        s"near-dup store '$storeKey': batchId $batchId <= last_batch_id " +
          s"${meta("last_batch_id")} but $foreign stored docs of that " +
          "batch are absent from this batch — NOT a replay (restarted " +
          "batch counter?); re-ingest under a fresh batchId or store")
      return batch.join(mine.withColumnRenamed("doc_id", idCol),
        Seq(idCol), "left_semi")
    }
    val withSig = Dedup.minHashSigned(named, k, numHashes)
      .localCheckpoint(true)
    // within-batch clusters (exact-verified pairs), min id survives
    val pairs = Dedup.minHashLsh(named, k, numHashes, bands, threshold)
      .select("doc_id_a", "doc_id_b")
    val cl = Dedup.clusters(pairs)
    val winners = withSig.join(cl, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select("doc_id", "sig")
    // cross-batch probe: band buckets against the store, then the
    // signature-estimated jaccard against stored signatures
    val bandRows = Dedup.minHashBandRows(
        withSig.join(winners.select("doc_id"), Seq("doc_id"), "left_semi"),
        numHashes, bands)
      .withColumn("bb", pmod(col("bucket"), lit(HashDirs.toLong)).cast("int"))
    // the batch_id < batchId probe filters are the dedupBatch crash-
    // retry discipline: a retry after an append-but-no-meta crash must
    // not band-match its OWN partially-committed rows (every winner
    // would read as a near-dup of itself and the kept set would come
    // back empty). Both dirs present is the normal prior-batch state;
    // bands-without-sigs can only be this batch's own crashed partial
    // write (sigs land after bands), which the filters would discard
    // anyway — treat as empty store.
    val survivors =
      if (!Files.exists(Paths.get(bandsDir)) ||
          !Files.exists(Paths.get(sigsDir))) winners
      else {
        import spark.implicits._
        val bbs = bandRows.select("bb").distinct().as[Int].collect()
        val storeBands = readStoreDir(spark, bandsDir)
          .filter(col("bb").isin(bbs.map(Int.box): _*))
          .filter(col("batch_id") < batchId)
        val cand = bandRows.join(
            storeBands.select(col("band"), col("bucket"),
              col("doc_id").as("stored_id")),
            Seq("band", "bucket"))
          .select("doc_id", "stored_id").distinct()
        val storeSigs = readStoreDir(spark, sigsDir)
          .filter(col("batch_id") < batchId)
          .select(col("doc_id").as("stored_id"), col("sig").as("sig_b"))
        val sigEq = cand
          .join(winners.select(col("doc_id"), col("sig").as("sig_a")),
            Seq("doc_id"))
          .join(storeSigs, Seq("stored_id"))
          .withColumn("n_eq", aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v))
          .filter(col("n_eq").cast("double") / numHashes >= threshold)
          .select("doc_id").distinct()
        winners.join(sigEq, Seq("doc_id"), "left_anti")
      }
    val pinned = survivors.localCheckpoint(true)
    // append-exclusion per table (the dedupBatch retry discipline):
    // docs a crashed attempt already committed under this batch id are
    // skipped, so a retry converges to exactly-once store rows — bands
    // and sigs independently, since a crash can land between the two
    // appends
    def alreadyIn(dir: String): Option[DataFrame] =
      if (!Files.exists(Paths.get(dir))) None
      else Some(readStoreDir(spark, dir)
        .filter(col("batch_id") === batchId).select("doc_id").distinct())
    val bandDocs = alreadyIn(bandsDir) match {
      case None => pinned.select("doc_id")
      case Some(d) => pinned.select("doc_id").join(d, Seq("doc_id"),
        "left_anti")
    }
    Dedup.minHashBandRows(
        withSig.join(bandDocs, Seq("doc_id"), "left_semi"),
        numHashes, bands)
      .withColumn("bb", pmod(col("bucket"), lit(HashDirs.toLong)).cast("int"))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).partitionBy("bb").parquet(bandsDir)
    val sigRows = alreadyIn(sigsDir) match {
      case None => pinned
      case Some(d) => pinned.join(d, Seq("doc_id"), "left_anti")
    }
    sigRows.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).parquet(sigsDir)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> (meta.getOrElse("n_rows", 0L) + pinned.count()),
      "last_batch_id" -> batchId)
    batch.join(pinned.select(col("doc_id").as(idCol)), Seq(idCol),
      "left_semi")
  }

  /** Drop the near-dup store. */
  def dropNear(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(nearBase(spark, storeKey))

  /** [[compactSeen]]'s near-dup twin: fold the many-batch bands layout
    * into one file per bucket dir and the sigs layout into few files —
    * thousands of streaming micro-batches each append a file per
    * touched band bucket plus a sigs file, and the cross-batch probe
    * becomes a small-files scan. One [[StoreFiles.swap]] per table;
    * bands swap first, and a crash between the two swaps leaves
    * both tables logically intact (compaction changes files, not
    * rows). Meta untouched. Not safe concurrent with a writer.
    * `sigFiles` is the sigs fold width — [[graft.operators.Governance
    * .maintain]] clamps it to its threshold (the kw_postings/split
    * pattern) so the folded layout lands AT or under the threshold
    * instead of parking 8 sigs files above a lower one and
    * re-compacting every scheduled run (the round-14 advice defect).
    */
  def compactNear(spark: SparkSession, storeKey: String,
      sigFiles: Int = 8): Unit = {
    require(sigFiles >= 1, s"sigFiles must be positive: $sigFiles")
    val b = nearBase(spark, storeKey)
    val bandsDir = s"$b/bands"
    if (Files.exists(Paths.get(bandsDir))) {
      val side = s"$b/bands__compact"
      StoreFiles.rm(side)
      readStoreDir(spark, bandsDir)
        .repartition(col("bb"))
        .write.mode(SaveMode.Overwrite).partitionBy("bb").parquet(side)
      StoreFiles.swap(bandsDir, side)
    }
    val sigsDir = s"$b/sigs"
    if (Files.exists(Paths.get(sigsDir))) {
      val side = s"$b/sigs__compact"
      StoreFiles.rm(side)
      readStoreDir(spark, sigsDir).coalesce(sigFiles)
        .write.mode(SaveMode.Overwrite).parquet(side)
      StoreFiles.swap(sigsDir, side)
    }
  }

  /** [[expireSeen]]'s near-dup twin: forget band rows AND signatures
    * recorded before `keepFromBatchId` (sliding-window near-dedup —
    * "near-dup against the last N days"). Meta's n_rows shrinks to the
    * surviving signature count; last_batch_id is untouched, so the
    * replay contract keeps working for retained batches and a replay
    * of an EXPIRED batch returns the empty kept set (the safe
    * direction — no duplicates re-enter an exactly-once export).
    */
  def expireNear(spark: SparkSession, storeKey: String,
      keepFromBatchId: Long): Unit = {
    val b = nearBase(spark, storeKey)
    val sigsDir = s"$b/sigs"
    if (!Files.exists(Paths.get(sigsDir))) return
    val meta = StoreFiles.readNums(metaFile(b))
    val bandsDir = s"$b/bands"
    if (Files.exists(Paths.get(bandsDir))) {
      val side = s"$b/bands__compact"
      StoreFiles.rm(side)
      val keptBands = readStoreDir(spark, bandsDir)
        .filter(col("batch_id") >= keepFromBatchId)
        .localCheckpoint(true)
      keptBands.repartition(col("bb"))
        .write.mode(SaveMode.Overwrite).partitionBy("bb").parquet(side)
      StoreFiles.swap(bandsDir, side, keep = keptBands.count() > 0)
    }
    val sideS = s"$b/sigs__compact"
    StoreFiles.rm(sideS)
    val keptSigs = readStoreDir(spark, sigsDir)
      .filter(col("batch_id") >= keepFromBatchId)
      .localCheckpoint(true)
    keptSigs.coalesce(8)
      .write.mode(SaveMode.Overwrite).parquet(sideS)
    val nKept = keptSigs.count()
    StoreFiles.swap(sigsDir, sideS, keep = nKept > 0)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> nKept,
      "last_batch_id" -> meta.getOrElse("last_batch_id", 0L))
  }

  /** Fold a many-batch fps layout into one file per hash bucket:
    * thousands of streaming micro-batches each append a file per
    * touched bucket, and the store probe becomes a small-files scan.
    * Writes the compacted layout to a side dir and swaps it in with
    * [[StoreFiles.swap]]; meta untouched (n_rows / last_batch_id state
    * is append-only truth). The rename window (fps missing) is caught
    * loudly by [[dedupBatch]]'s layout guard, never read as an empty
    * store.
    */
  def compactSeen(spark: SparkSession, storeKey: String): Unit = {
    val b = base(spark, storeKey)
    val fpsDir = s"$b/fps"
    if (!Files.exists(Paths.get(fpsDir))) return
    val side = s"$b/fps__compact"
    StoreFiles.rm(side)
    readStoreDir(spark, fpsDir)
      .repartition(col("hb"))
      .write.mode(SaveMode.Overwrite).partitionBy("hb").parquet(side)
    StoreFiles.swap(fpsDir, side)
  }

  /** [[compactSeen]]'s line-store twin (round-14 — the last
    * append-forever dedup layout gains its fold): every
    * [[lineDedupBatch]] appends a file set per touched `hb` partition,
    * so a long-running stream erodes the probe into a small-files
    * scan. Rewrites FILES only — every (lh, df, batch_id, hb) row
    * survives verbatim, so the batch-keyed replay verification and the
    * prior-batch df sums are bit-identical across the fold. A
    * [[StoreFiles.swap]]; the rename window (linedf missing under a
    * non-zero meta) is caught loudly by [[lineDedupBatch]]'s layout
    * guard, never read as an empty store. Completes any interrupted
    * erasure first (the [[readLineDf]] discipline); not safe
    * concurrent with a writer (the compact* rule).
    */
  def compactLineDedup(spark: SparkSession, storeKey: String): Unit = {
    val b = lineBase(spark, storeKey)
    recoverLinePurge(b)
    val dfDir = s"$b/linedf"
    if (!Files.exists(Paths.get(dfDir))) return
    val side = s"$b/linedf__compact"
    StoreFiles.rm(side)
    readStoreDir(spark, dfDir)
      .repartition(col("hb"))
      .write.mode(SaveMode.Overwrite).partitionBy("hb").parquet(side)
    StoreFiles.swap(dfDir, side)
  }

  /** Retention: forget fingerprints recorded BEFORE `keepFromBatchId`
    * (the sliding-window dedup production stores run — "dedup against
    * the last N days", not all of history). A [[StoreFiles.swap]] as
    * in [[compactSeen]]; meta's n_rows shrinks to the surviving
    * count and last_batch_id is untouched (the replay contract keeps
    * working for retained batches. A replay of an EXPIRED batch id
    * returns an empty kept set (its fingerprints are gone, and an
    * empty recorded batch is indistinguishable from an expired one) —
    * the safe direction for an exactly-once export (no duplicates
    * re-enter), reachable only by rolling a checkpoint back past the
    * retention window, which is an operational error.
    */
  def expireSeen(spark: SparkSession, storeKey: String,
      keepFromBatchId: Long): Unit = {
    val b = base(spark, storeKey)
    val fpsDir = s"$b/fps"
    if (!Files.exists(Paths.get(fpsDir))) return
    val meta = StoreFiles.readNums(metaFile(b))
    val side = s"$b/fps__compact"
    StoreFiles.rm(side)
    val kept = readStoreDir(spark, fpsDir)
      .filter(col("batch_id") >= keepFromBatchId)
      .localCheckpoint(true)
    kept.repartition(col("hb"))
      .write.mode(SaveMode.Overwrite).partitionBy("hb").parquet(side)
    val nKept = kept.count()
    // a zero-row parquet dir has no inferable schema — an absent dir
    // IS the empty-store state
    StoreFiles.swap(fpsDir, side, keep = nKept > 0)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> nKept,
      "last_batch_id" -> meta.getOrElse("last_batch_id", 0L))
  }

  /** ERASE the given documents' fingerprints from the exact-dedup
    * store — the right-to-be-forgotten verb
    * ([[graft.operators.Governance.purge]]'s dedup leg): after a purge
    * the store retains NOTHING derived from the purged documents (not
    * even the 8-byte content hash, which is derived data under an
    * erasure request). [[expireSeen]]'s identity-predicate twin — same
    * [[StoreFiles.swap]], n_rows shrinks by the purged count,
    * last_batch_id untouched. Consequence, documented: content whose
    * only recorded representative was purged is RE-ADMITTED if it
    * arrives again (the store has honestly forgotten it) — the erasure
    * semantics, not a defect. Returns the purged fingerprint count.
    */
  def purgeDocs(spark: SparkSession, storeKey: String, ids: DataFrame,
      idCol: String = "doc_id"): Long = {
    val b = base(spark, storeKey)
    val fpsDir = s"$b/fps"
    if (!Files.exists(Paths.get(fpsDir))) return 0L
    val meta = StoreFiles.readNums(metaFile(b))
    val side = s"$b/fps__compact"
    StoreFiles.rm(side)
    val victims = ids.select(ids(idCol).as(idCol)).distinct()
    // bounded no-op probe: a purge of already-absent ids (the
    // crash-retry / replayed-trigger case) must not pay the store
    // rewrite — one limit-1 semi-join decides
    if (readStoreDir(spark, fpsDir)
        .join(victims, Seq(idCol), "left_semi").limit(1)
        .collect().isEmpty)
      return 0L
    val kept = readStoreDir(spark, fpsDir)
      .join(victims, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    kept.repartition(col("hb"))
      .write.mode(SaveMode.Overwrite).partitionBy("hb").parquet(side)
    val nKept = kept.count()
    StoreFiles.swap(fpsDir, side, keep = nKept > 0)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> nKept,
      "last_batch_id" -> meta.getOrElse("last_batch_id", 0L))
    meta.getOrElse("n_rows", 0L) - nKept
  }

  /** [[purgeDocs]]' near-dup twin: erase the purged documents' band
    * rows AND MinHash signatures (both derived data under an erasure
    * request). Bands swap first; a crash between the two swaps leaves
    * band rows whose signatures are gone — candidates that fail the
    * signature join, never a served purged doc — and the retry
    * converges. Returns the purged signature count.
    */
  def purgeNear(spark: SparkSession, storeKey: String, ids: DataFrame,
      idCol: String = "doc_id"): Long = {
    val b = nearBase(spark, storeKey)
    val sigsDir = s"$b/sigs"
    if (!Files.exists(Paths.get(sigsDir))) return 0L
    val meta = StoreFiles.readNums(metaFile(b))
    val victims = ids.select(ids(idCol).as("doc_id")).distinct()
    val bandsDir = s"$b/bands"
    // bounded no-op probe (both tables — a crash can strand victims
    // in one): nothing to erase means no rewrite
    val present = Seq(bandsDir, sigsDir)
      .filter(d => Files.exists(Paths.get(d)))
      .map(d => readStoreDir(spark, d).select("doc_id"))
      .reduceOption(_ unionByName _)
      .exists(u => u.join(victims, Seq("doc_id"), "left_semi")
        .limit(1).collect().nonEmpty)
    if (!present) return 0L
    if (Files.exists(Paths.get(bandsDir))) {
      val side = s"$b/bands__compact"
      StoreFiles.rm(side)
      val keptBands = readStoreDir(spark, bandsDir)
        .join(victims, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      keptBands.repartition(col("bb"))
        .write.mode(SaveMode.Overwrite).partitionBy("bb").parquet(side)
      StoreFiles.swap(bandsDir, side, keep = keptBands.count() > 0)
    }
    val sideS = s"$b/sigs__compact"
    StoreFiles.rm(sideS)
    val keptSigs = readStoreDir(spark, sigsDir)
      .join(victims, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    keptSigs.coalesce(8)
      .write.mode(SaveMode.Overwrite).parquet(sideS)
    val nKept = keptSigs.count()
    StoreFiles.swap(sigsDir, sideS, keep = nKept > 0)
    StoreFiles.commit(metaFile(b),
      "n_rows" -> nKept,
      "last_batch_id" -> meta.getOrElse("last_batch_id", 0L))
    meta.getOrElse("n_rows", 0L) - nKept
  }

  /** Drop the store (tests / rebuild-from-scratch). */
  def drop(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(base(spark, storeKey))
}
