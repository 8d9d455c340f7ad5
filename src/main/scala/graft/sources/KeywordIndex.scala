package graft.sources

import graft.operators.KeywordSearch
import graft.operators.KeywordSearch.Bm25Stats
import graft.sources.Passes.pass
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Persisted BM25 postings — the lexical twin of [[AnnIndex]]'s vector
  * layouts, completing the index-once/upsert-many/query-many lifecycle
  * for keyword search (the reference's vector store has exactly this
  * lifecycle for embeddings, `/root/reference/AI.py:47-55`; a hybrid
  * deployment needs it for both halves).
  *
  * Layout: one parquet table `graft_kw_postings_<tag>` holding
  * `(doc_id, term, tf, dl)` ([[KeywordSearch.bm25Postings]]) plus the
  * same atomic meta protocol as the ANN layouts — content fingerprint
  * (count + order-independent xor of row hashes over `(doc_id, text)`),
  * optional O(1) snapshot-id freshness, last-applied streaming batch id.
  * Cross-process re-attach is DDL-only.
  *
  * Unlike the ANN indexes there is NO approximation anywhere in this
  * lifecycle: a document's postings rows depend on that document alone,
  * and document frequency and corpus stats are either derived from the
  * served postings at query time or read from stored stats that every
  * upsert and delete keeps equal to that derivation ([[statsFor]]) — so
  * an upserted index is ROW-IDENTICAL to a full rebuild (q82
  * hash-matches the full-corpus oracle), with none of the centroid-drift
  * caveat the IVF upsert carries.
  */
object KeywordIndex {

  private def kwBase(spark: SparkSession, tag: String) =
    s"${AnnIndex.annBase(spark)}/graft_kw_$tag"
  private def tableName(tag: String) = s"graft_kw_postings_$tag"
  private def tombsName(tag: String) = s"graft_kw_tombs_$tag"
  private def dfsName(tag: String) = s"graft_kw_dfs_$tag"

  private def registered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(tableName(tag))

  /** Attach the on-disk layout written by an earlier process: DDL only. */
  private def attach(spark: SparkSession, tag: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(tag)}")
    AnnIndex.registerExternal(spark, tableName(tag),
      s"${kwBase(spark, tag)}/postings")
    spark.sql(s"DROP TABLE IF EXISTS ${tombsName(tag)}")
    if (AnnIndex.parquetReadable(spark, s"${kwBase(spark, tag)}/tombs"))
      AnnIndex.registerExternal(spark, tombsName(tag),
        s"${kwBase(spark, tag)}/tombs")
    spark.sql(s"DROP TABLE IF EXISTS ${dfsName(tag)}")
    if (AnnIndex.parquetReadable(spark, s"${kwBase(spark, tag)}/dfs"))
      AnnIndex.registerExternal(spark, dfsName(tag),
        s"${kwBase(spark, tag)}/dfs")
  }

  /** Align this session's df-stats registration with the store WITHOUT
    * catalog DDL when nothing changed (the [[AnnIndex.syncTombs]]
    * hygiene applied to the stats side table).
    */
  private def syncDfs(spark: SparkSession, tag: String): Unit = {
    val path = s"${kwBase(spark, tag)}/dfs"
    val want = AnnIndex.parquetReadable(spark, path)
    val have = spark.catalog.tableExists(dfsName(tag))
    if (want && have) spark.catalog.refreshTable(dfsName(tag))
    else if (want) AnnIndex.registerExternal(spark, dfsName(tag), path)
    else if (have) spark.sql(s"DROP TABLE IF EXISTS ${dfsName(tag)}")
  }

  /** The SERVED view: when a tombstone table exists the postings
    * anti-join it on doc_id. Because df/avgdl/N derive from the served
    * postings ([[KeywordSearch.bm25TopKFromPostings]]) or from stored
    * stats that [[deletePostings]] reduces by the deleted documents, the
    * anti-joined view answers IDENTICALLY to a rebuild from the
    * surviving documents — delete ≡ rebuild exactly, the lexical twin
    * of the upsert ≡ rebuild invariant. The tombstone side is a doc-id
    * list (bounded by deletions, broadcast at query time).
    */
  private def served(spark: SparkSession, tag: String): DataFrame = {
    val post = spark.table(tableName(tag))
    if (spark.catalog.tableExists(tombsName(tag)))
      post.join(spark.table(tombsName(tag)), Seq("doc_id"), "left_anti")
    else post
  }

  private def metaMatches(meta: Map[String, Long], n: Long,
      fp: Long): Boolean =
    meta.get("n_docs").contains(n) && meta.get("checksum").contains(fp)

  private def build(spark: SparkSession, tag: String, docs: DataFrame,
      idCol: String, textCol: String, n: Long, fp: Long,
      snapshotId: Option[String]): Unit = {
    val base = kwBase(spark, tag)
    // carry last_batch_id through the rebuild: a rebuild between a
    // streaming crash and its replay would otherwise reopen the replay
    // window — the replayed batch (already inside the rebuild's source)
    // would re-append its postings, silently doubling tf/df. Contract:
    // a rebuild's source frame includes every batch already applied (the
    // ensure* callers pass the CURRENT corpus); rebuilding from a source
    // that deliberately excludes applied batches needs a fresh sourceDir.
    val priorBatch = AnnIndex.readMeta(base).get("last_batch_id")
    val priorDelBatch = AnnIndex.readMeta(base).get("last_del_batch_id")
    // a rebuild serves exactly its source: tombstones are cleared (the
    // ensureSq8 discipline) — the delete replay-skip window survives
    AnnIndex.dropTombs(spark, base, tombsName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(tag)}")
    KeywordSearch.bm25Postings(docs, idCol, textCol)
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$base/postings")
      .format("parquet").saveAsTable(tableName(tag))
    AnnIndex.writeMetaFull(base,
      Seq("n_docs" -> n, "checksum" -> fp) ++
        priorBatch.map("last_batch_id" -> _).toSeq ++
        priorDelBatch.map("last_del_batch_id" -> _).toSeq,
      snapshotId.map("snapshot_id" -> _).toSeq)
    seedStats(spark, tag)
  }

  /** Derive and commit the corpus statistics from the STORED postings
    * (so they are consistent with what is served): per-term document
    * frequency as a side table, Σ dl into the meta — query time then
    * pays vocabulary-sized work instead of two full-postings aggregates
    * per call (the round-12 verdict's per-call stats scan). Runs after
    * the layout's own meta commit: a crash in between leaves a valid
    * stats-LESS layout that serves via the derived path until the next
    * ensure re-seeds (never wrong numbers).
    */
  private def statsMissing(spark: SparkSession, tag: String): Boolean = {
    val m = AnnIndex.readMeta(kwBase(spark, tag))
    !m.contains("sum_dl") || !m.contains("n_docs_stat") ||
      !AnnIndex.parquetReadable(spark, s"${kwBase(spark, tag)}/dfs")
  }

  private def seedStats(spark: SparkSession, tag: String): Unit = {
    val base = kwBase(spark, tag)
    val stored = spark.table(tableName(tag))
    // N for BM25 is the count of docs WITH at least one token (the
    // derived path's count over postings doc_ids) — NOT the source
    // cardinality in meta n_docs: a token-less document produces no
    // postings rows, and serving the inflated count would silently
    // shift every idf/avgdl off the derived path's values
    var statsRow: Row = null
    Passes.run(spark, "postings.seed")(
      pass("stats") { statsRow = docStats(stored) },
      pass("dfs") {
        spark.sql(s"DROP TABLE IF EXISTS ${dfsName(tag)}")
        StoreFiles.rm(s"$base/dfs")
        stored.groupBy("term").agg(count(lit(1)).as("df"))
          .write.mode(SaveMode.Overwrite)
          .option("path", s"$base/dfs")
          .format("parquet").saveAsTable(dfsName(tag))
      })
    val nStat = statsRow.getLong(0)
    val sumDl = statsRow.getDouble(1).toLong
    val meta = AnnIndex.readMeta(base)
    AnnIndex.writeMetaFull(base,
      (meta - "sum_dl" - "n_docs_stat").toSeq ++
        Seq("sum_dl" -> sumDl, "n_docs_stat" -> nStat),
      AnnIndex.readMetaStrs(base).toSeq)
  }

  /** (documents, Σ dl) of a postings frame: one row (nd, sdl). */
  private def docStats(postings: DataFrame): Row =
    postings.groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0.0)).as("sdl"))
      .head()

  /** Build (or reuse) the persisted postings over `docs`. Freshness is
    * the [[AnnIndex.ensureLsh]] contract: `snapshotId` match ⇒ O(1)
    * reuse with no scan; otherwise one fingerprint pass over
    * `(doc_id, text)` decides reuse vs rebuild — a content change that
    * preserves cardinality still invalidates.
    */
  def ensurePostings(
      spark: SparkSession,
      sourceDir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      snapshotId: Option[String] = None): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = kwBase(spark, tag)
    // a tombstoned layout no longer equals postings(source): ensure's
    // contract is "serve exactly this source", so deletions force a
    // rebuild which clears them (the ensureSq8 discipline)
    def tombFree = AnnIndex.readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists { id =>
      AnnIndex.readMetaStrs(base).get("snapshot_id").contains(id) &&
        AnnIndex.readMeta(base).contains("checksum")
    } && tombFree
    if (snapFresh && AnnIndex.servable(spark, Seq(s"$base/postings"),
        registered(spark, tag), () => attach(spark, tag))) {
      spark.catalog.refreshTable(tableName(tag))
      // upgrade path: a pre-stats layout seeds its stats once here
      if (statsMissing(spark, tag)) seedStats(spark, tag)
      return served(spark, tag)
    }
    val (n, fp) = AnnIndex.fingerprint(
      docs.select(docs(idCol), docs(textCol)))
    val meta = AnnIndex.readMeta(base)
    // a matching meta over an unreadable layout (a crashed compaction's
    // rename window) counts as STALE — the rebuild is the recovery path
    // (AnnIndex.servable: footer probe + attach, never trusting this
    // session's registration alone)
    val metaFresh = metaMatches(meta, n, fp) && tombFree &&
      AnnIndex.servable(spark, Seq(s"$base/postings"),
        registered(spark, tag), () => attach(spark, tag))
    if (!metaFresh)
      build(spark, tag, docs, idCol, textCol, n, fp, snapshotId)
    else if (snapshotId.isDefined)
      // content unchanged under a new snapshot name: record the id so
      // the next ensure at this snapshot skips the scan entirely —
      // carrying last_batch_id (a crash-replayed streaming batch would
      // otherwise lose its skip guard and double-append), sum_dl (the
      // served stats), and last_del_batch_id through
      AnnIndex.writeMetaFull(base,
        Seq("n_docs" -> n, "checksum" -> fp) ++
          meta.get("sum_dl").map("sum_dl" -> _).toSeq ++
          // n_docs_stat rides with sum_dl: dropping it here would read
          // as statsMissing and pay a full-postings seedStats re-derive
          // on every ensure that records a new snapshot id over
          // unchanged content
          meta.get("n_docs_stat").map("n_docs_stat" -> _).toSeq ++
          meta.get("last_batch_id").map("last_batch_id" -> _).toSeq ++
          meta.get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    // a cross-process writer may have appended since this session last
    // listed the table — reuse must serve the CURRENT files
    spark.catalog.refreshTable(tableName(tag))
    // upgrade path: a layout built before the stats side table existed
    // (or that lost it to a crash) seeds its stats once here
    if (metaFresh && statsMissing(spark, tag)) seedStats(spark, tag)
    served(spark, tag)
  }

  /** True iff a persisted keyword layout exists for `sourceDir` (meta
    * presence only — the [[AnnIndex.sq8Exists]] contract). Lets the
    * delete-serving lifecycle branch build-vs-open explicitly: a
    * tombstoned layout deliberately fails `ensurePostings`' freshness
    * and must be OPENED, not re-ensured, to keep serving deletions.
    */
  def postingsExist(spark: SparkSession, sourceDir: String): Boolean =
    AnnIndex.readMeta(kwBase(spark, IndexStore.pathTag(sourceDir)))
      .contains("n_docs")

  /** Open the persisted postings WITHOUT a freshness probe — the
    * reader's path while a writer streams upserts in; same immutability
    * caveat as [[AnnIndex.openLsh]]. The table is refreshed first: a
    * concurrent writer (e.g. the streaming ingest's cloned micro-batch
    * session) appends files this session's relation cache hasn't
    * listed — one directory re-list, not a data pass.
    */
  def openPostings(spark: SparkSession, sourceDir: String): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = kwBase(spark, tag)
    require(AnnIndex.readMeta(base).contains("n_docs"),
      s"no persisted keyword index for $sourceDir — run ensurePostings")
    // readability (one footer read, not a freshness scan): a surviving
    // catalog registration over a gutted directory would otherwise read
    // as an EMPTY table — silently wrong answers, not a loud failure
    require(AnnIndex.parquetReadable(spark, s"$base/postings"),
      s"persisted keyword layout for $sourceDir is unreadable (crashed " +
        "compaction?) — run ensurePostings to rebuild")
    if (!registered(spark, tag)) attach(spark, tag)
    else {
      spark.catalog.refreshTable(tableName(tag))
      // tombstones may have (dis)appeared under another session's
      // delete or fold — align with the store, DDL only on a change
      AnnIndex.syncTombs(spark, base, tombsName(tag))
    }
    served(spark, tag)
  }

  /** Incremental add: postings for the NEW documents only, appended —
    * O(new) per batch vs O(corpus) rebuild. Because df/avgdl/N are
    * derived at query time from the merged postings, the upserted index
    * answers IDENTICALLY to a rebuild (exact, not recall-bounded).
    * Append-only contract and `batchId` replay-skip as in
    * [[AnnIndex.upsertLsh]]; the checksum xor-composes.
    */
  def upsertPostings(
      spark: SparkSession,
      sourceDir: String,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchId: Option[Long] = None): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = kwBase(spark, tag)
    val meta = AnnIndex.readMeta(base)
    require(meta.contains("n_docs"),
      s"upsertPostings needs an existing index for $sourceDir — run " +
        "ensurePostings first")
    // appending into a crashed-compaction gutted layout would RECREATE
    // the dir holding only this batch while the xor'd checksum claims
    // the full corpus — silent corruption every later probe trusts;
    // fail loudly instead (ensurePostings is the rebuild path)
    require(AnnIndex.parquetReadable(spark, s"$base/postings"),
      s"persisted keyword layout for $sourceDir is unreadable (crashed " +
        "compaction?) — run ensurePostings to rebuild before upserting")
    if (!registered(spark, tag)) attach(spark, tag)
    val replayed = batchId.exists(id =>
      meta.get("last_batch_id").exists(id <= _))
    if (replayed) return served(spark, tag)
    // append-only + tombstone contract (the upsertSq8 discipline):
    // re-adding a deleted doc would be silently swallowed by the
    // tombstone anti-join — fail loudly; compactPostings folds first
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      if (!spark.catalog.tableExists(tombsName(tag)) &&
          AnnIndex.tombsServable(spark, base))
        AnnIndex.registerExternal(spark, tombsName(tag), s"$base/tombs")
      val clash = spark.table(tombsName(tag))
        .join(newDocs.select(newDocs(idCol).as("doc_id")), Seq("doc_id"),
          "left_semi").count()
      require(clash == 0L,
        s"upsertPostings: $clash incoming doc id(s) are tombstoned — " +
          "run compactPostings to fold deletions before re-inserting")
    }
    // one deterministic postings frame feeds the append AND the stats
    // deltas (materialized so the passes agree byte-for-byte), taken
    // while the batch is fingerprinted
    var fp: (Long, Long) = null
    var newPost: DataFrame = null
    Passes.run(spark, "postings.upsert")(
      pass("fingerprint") {
        fp = AnnIndex.fingerprint(
          newDocs.select(newDocs(idCol), newDocs(textCol)))
      },
      pass("checkpoint") {
        newPost = KeywordSearch.bm25Postings(newDocs, idCol, textCol)
          .localCheckpoint(true)
      })
    val (nNew, fpNew) = fp
    // incremental stats (the round-12 verdict's per-call-scan fix): df
    // DELTAS append to the side table (the read side sums per term) and
    // Σ dl bumps in the meta — O(batch vocabulary) per upsert, and the
    // merged stats stay EXACTLY the rebuild's (a document's postings
    // depend on that document alone). Only maintained when the layout
    // has them (a pre-stats layout keeps serving via the derived path).
    val statsKept = meta.contains("sum_dl") &&
      meta.contains("n_docs_stat") &&
      AnnIndex.parquetReadable(spark, s"$base/dfs")
    if (statsKept) {
      syncDfs(spark, tag)
      // INVALIDATE the stats before touching ANY data — including the
      // postings append below: a crash anywhere inside this upsert must
      // leave a stats-LESS layout (served via the derived path —
      // correct numbers, slower plan), never postings that include the
      // batch under stats that do not. The final meta commit below
      // re-admits the updated stats.
      AnnIndex.writeMetaFull(base,
        (meta - "sum_dl" - "n_docs_stat").toSeq,
        AnnIndex.readMetaStrs(base).toSeq)
    }
    var batchStats: Row = null
    Passes.run(spark, "postings.upsert")(
      pass("append")(newPost.write.mode(SaveMode.Append)
        .format("parquet").saveAsTable(tableName(tag))) +:
        (if (statsKept) Seq(
          pass("dfs")(newPost.groupBy("term").agg(count(lit(1)).as("df"))
            .write.mode(SaveMode.Append).format("parquet")
            .saveAsTable(dfsName(tag))),
          pass("stats") { batchStats = docStats(newPost) }) else Nil): _*)
    val (sumDlNew, nStatNew) =
      if (statsKept) (batchStats.getDouble(1).toLong, batchStats.getLong(0))
      else (0L, 0L)
    // any stored snapshot_id is deliberately dropped — the layout is now
    // ahead of the snapshot that id named (the upsertLsh rule)
    AnnIndex.writeMetaFull(base,
      Seq("n_docs" -> (meta("n_docs") + nNew)) ++
        (if (statsKept)
          Seq("sum_dl" -> (meta("sum_dl") + sumDlNew),
            "n_docs_stat" -> (meta("n_docs_stat") + nStatNew)) else Nil) ++
        // absent after a tombstone fold (no source text to re-derive
        // from): stays absent — the next ensure rebuilds and re-seeds
        meta.get("checksum").map(c => "checksum" -> (c ^ fpNew)).toSeq ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        (if (statsKept) meta.get("stats_tomb_rows")
          .map("stats_tomb_rows" -> _).toSeq else Nil) ++
        meta.get("last_del_batch_id")
          .map("last_del_batch_id" -> _).toSeq,
      Nil)
    spark.catalog.refreshTable(tableName(tag))
    served(spark, tag)
  }

  /** Delete documents by id from the persisted keyword index — the
    * lexical half of the vector-store delete verb ([[AnnIndex
    * .deleteSq8]]'s twin; without it a hybrid deployment's deleted
    * documents vanish from vector results but keep surfacing through
    * BM25 fusion). Merge-on-read tombstones: the id batch APPENDS to a
    * doc-id tombstone table (O(batch), no postings rewrite) and every
    * served view anti-joins it, so the tombstoned view answers EXACTLY
    * like a rebuild from the survivors — delete ≡ rebuild with no recall
    * caveat (q194 hash-matches the survivor-rebuilt oracle).
    *
    * Stored stats stay exact: one batch-sized collect of the deleted
    * documents' still-live postings gives the decrements — negative `df`
    * deltas appended to the side table (readers sum per term), and lower
    * `n_docs_stat`/`sum_dl` in the meta — so [[statsFor]] keeps serving
    * the survivors' statistics. Crash window: the stats are invalidated
    * in the meta before any data is touched and re-admitted by the final
    * meta commit (the [[upsertPostings]] rule), so a crash in between
    * leaves a stats-less layout served via the derived path (correct
    * numbers, slower plan) until the next ensure or compaction re-seeds.
    *
    * Deleting absent or already-deleted ids is a semantic no-op. A
    * delete moves the layout past any named snapshot (stored
    * `snapshot_id` dropped) and past the source content
    * ([[ensurePostings]] over the original source rebuilds, clearing
    * deletions). [[compactPostings]] folds tombstones physically.
    * `batchId` gives streaming delete feeds replay-skip on its own
    * counter (`last_del_batch_id`), as [[AnnIndex.deleteSq8]].
    */
  def deletePostings(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      idCol: String = "doc_id",
      batchId: Option[Long] = None): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = kwBase(spark, tag)
    val meta = AnnIndex.readMeta(base)
    require(meta.contains("checksum") || meta.contains("n_docs"),
      s"deletePostings needs an existing keyword index for $sourceDir " +
        "— run ensurePostings first")
    require(AnnIndex.parquetReadable(spark, s"$base/postings"),
      s"persisted keyword layout for $sourceDir is unreadable (crashed " +
        "compaction?) — run ensurePostings to rebuild before deleting")
    if (!registered(spark, tag)) attach(spark, tag)
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed) return served(spark, tag)
    // the distinct id batch is collected (an in-memory id frame without
    // a job): it counts the tombstones, selects the batch's postings
    // below and is written as the tombs append
    val picked = ids.select(ids(idCol).as("doc_id"))
    val batchIds = picked.collect().toSeq.distinct
    val nDel = batchIds.size.toLong
    val batch = spark.createDataFrame(batchIds.asJava, picked.schema)
      .coalesce(1)
    // meta is the tombstone commit point (sweep crashed-delete
    // orphans); tombs COMMITTED by another session must attach BEFORE
    // the exists-check (the AnnIndex.writeTombs rule)
    AnnIndex.sweepOrphanTombs(spark, base, tombsName(tag))
    AnnIndex.syncTombs(spark, base, tombsName(tag))
    val statsKept = statsCurrent(meta) &&
      AnnIndex.parquetReadable(spark, s"$base/dfs")
    val (dfDeltas, nStatDel, sumDlDel) =
      if (statsKept && batchIds.nonEmpty) {
        syncDfs(spark, tag)
        // the batch's postings still served — read BEFORE the tombs
        // append, over the current files, so already-deleted and absent
        // ids contribute nothing
        spark.catalog.refreshTable(tableName(tag))
        val gone = served(spark, tag)
          .filter(col("doc_id").isin(batchIds.map(_.get(0)): _*))
          .select("doc_id", "term", "dl").collect()
        val dls = gone.map(r => r.get(0) -> r.getDouble(2)).toMap
        // INVALIDATE the stats before touching any data (the
        // upsertPostings rule); the final meta commit re-admits them
        AnnIndex.writeMetaFull(base,
          (meta - "sum_dl" - "n_docs_stat").toSeq,
          AnnIndex.readMetaStrs(base).toSeq)
        (gone.groupMapReduce(_.getString(1))(_ => -1L)(_ + _),
          dls.size.toLong, dls.values.sum.toLong)
      } else (Map.empty[String, Long], 0L, 0L)
    val tombs = pass("tombs") {
      if (spark.catalog.tableExists(tombsName(tag)))
        batch.write.mode(SaveMode.Append).format("parquet")
          .saveAsTable(tombsName(tag))
      else
        batch.write.mode(SaveMode.Overwrite)
          .option("path", s"$base/tombs")
          .format("parquet").saveAsTable(tombsName(tag))
    }
    val dfs = pass("dfs")(spark.createDataFrame(
        dfDeltas.toSeq.map { case (t, d) => Row(t, d) }.asJava,
        spark.table(dfsName(tag)).schema)
      .coalesce(1).write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(dfsName(tag)))
    Passes.run(spark, "postings.delete")(
      tombs +: (if (dfDeltas.nonEmpty) Seq(dfs) else Nil): _*)
    val tombRows = meta.getOrElse("tomb_rows", 0L) + nDel
    AnnIndex.writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id" - "sum_dl" - "n_docs_stat"
        - "stats_tomb_rows").toSeq ++
        Seq("tomb_rows" -> tombRows) ++
        (if (statsKept)
          Seq("sum_dl" -> (meta("sum_dl") - sumDlDel),
            "n_docs_stat" -> (meta("n_docs_stat") - nStatDel),
            "stats_tomb_rows" -> tombRows) else Nil) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil) // snapshot_id intentionally dropped: the layout moved past it
    served(spark, tag)
  }

  /** Compact the persisted layout: a long-running streaming ingest
    * leaves one small parquet file per micro-batch, and file-count —
    * not row-count — is what degrades scan planning at scale. Rewrites
    * the SAME rows into `numFiles` files (repartitioned on doc_id so
    * a document's postings co-locate); content is unchanged, so the
    * meta (checksum, n_docs, last_batch_id) is untouched and every
    * freshness contract keeps holding.
    *
    * Crash safety follows the layout's meta contract (write aside,
    * swap last): the compacted copy lands in a SIDE directory read
    * straight off the live table — the live files are never the write
    * target — and only then is the directory swapped in. A crash
    * before the swap leaves the old layout fully intact; a crash
    * inside the two-rename window leaves no postings dir, which the
    * next attach FAILS LOUDLY on (re-run ensurePostings) — never a
    * silently half-compacted index under a still-matching checksum.
    * Not safe concurrent with a writer — run it between ingest
    * windows (no transaction log on a parquet layout; atomic dir
    * rename is the posix/HDFS primitive this relies on).
    *
    * The swap deletes the old files: a [[statsFor]] result (its `dfs`
    * frame) or a served frame taken before the compaction fails with
    * `FAILED_READ_FILE.FILE_NOT_EXIST` when used after it — take both
    * again.
    */
  def compactPostings(
      spark: SparkSession,
      sourceDir: String,
      numFiles: Int = 8): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = kwBase(spark, tag)
    val rows = openPostings(spark, sourceDir) // already tombstone-filtered
    val meta = AnnIndex.readMeta(base)
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(tombsName(tag))
    val sidePath = s"$base/postings_compact_${ProcessHandle.current.pid}"
    rows.repartition(numFiles, org.apache.spark.sql.functions.col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(sidePath)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(tag)}")
    StoreFiles.swap(s"$base/postings", sidePath)
    if (folding) AnnIndex.dropTombs(spark, base, tombsName(tag))
    attach(spark, tag)
    // the stats side table re-derives from the (possibly folded) live
    // rows — compaction rewrites the whole layout anyway, so the
    // vocabulary recount rides it; it folds accumulated upsert deltas
    // into one aggregated file set, re-derives survivor stats after a
    // tombstone fold, and is the UPGRADE path that seeds stats onto a
    // pre-stats layout. Crash mid-rewrite leaves no readable dfs dir —
    // serving then falls back to the derived-stats path (never wrong
    // numbers, just the slower plan) until the next compact/ensure.
    val live = spark.table(tableName(tag))
    val dfsSide = s"$base/dfs_compact_${ProcessHandle.current.pid}"
    var liveStats: Row = null
    Passes.run(spark, "postings.compact")(
      pass("dfs") {
        live.groupBy("term").agg(count(lit(1)).as("df"))
          .write.mode(SaveMode.Overwrite).parquet(dfsSide)
        spark.sql(s"DROP TABLE IF EXISTS ${dfsName(tag)}")
        StoreFiles.swap(s"$base/dfs", dfsSide)
        AnnIndex.registerExternal(spark, dfsName(tag), s"$base/dfs")
      },
      pass("stats") { liveStats = docStats(live) })
    val nStatLive = liveStats.getLong(0)
    val sumDlLive = liveStats.getDouble(1).toLong
    if (folding) {
      // the tombstone FOLD physically removed documents. Unlike the
      // ANN folds there is no stored source text to re-fingerprint
      // from, so the (doc_id, text) checksum CANNOT be re-derived:
      // n_docs is the surviving postings' document count and the
      // checksum is DROPPED — upsert/open/delete keep working off
      // n_docs, while the next ensurePostings over any source finds no
      // matching checksum and rebuilds (re-seeding it). Documented
      // cost: one rebuild-sized ensure after a fold, never a silently
      // wrong reuse. Replay-skip windows survive; tomb_rows resets.
      AnnIndex.writeMetaFull(base,
        (meta - "n_docs" - "checksum" - "tomb_rows" - "sum_dl"
          - "n_docs_stat" - "stats_tomb_rows").toSeq ++
          Seq("n_docs" -> nStatLive, "sum_dl" -> sumDlLive,
            "n_docs_stat" -> nStatLive),
        AnnIndex.readMetaStrs(base).toSeq)
    } else
      AnnIndex.writeMetaFull(base,
        (meta - "sum_dl" - "n_docs_stat" - "stats_tomb_rows").toSeq ++
          Seq("sum_dl" -> sumDlLive, "n_docs_stat" -> nStatLive),
        AnnIndex.readMetaStrs(base).toSeq)
    served(spark, tag)
  }

  /** True iff the meta's stored stats describe the SERVED view: they
    * are present and every committed tombstone was subtracted from them
    * (`stats_tomb_rows`, written by [[deletePostings]], equals
    * `tomb_rows`). A layout tombstoned by a delete that did not keep the
    * stats fails the check.
    */
  private def statsCurrent(meta: Map[String, Long]): Boolean =
    meta.contains("sum_dl") && meta.contains("n_docs_stat") &&
      meta.getOrElse("tomb_rows", 0L) == meta.getOrElse("stats_tomb_rows", 0L)

  /** Stored corpus statistics for BM25 serving: `(n_docs, sum_dl)` from
    * the meta plus the per-term df side table (append-only deltas,
    * negative after deletes; [[KeywordSearch.Bm25Stats]] read-side sums).
    * They describe the served view — tombstoned layouts included, since
    * [[deletePostings]] subtracts the deleted documents — so the stats
    * path answers exactly like the derived path over the survivors.
    * Returns None — and the caller serves via the derived-stats path,
    * same numbers, corpus-sized plan — only for a layout without stats
    * (built before them, inside an upsert's or delete's crash window, or
    * tombstoned by a delete that did not keep them) or with an
    * unreadable dfs dir (a crashed compaction), and for an empty corpus.
    * Registration sync is DDL-free on no change. The returned `dfs`
    * frame is bound to the file listing at call time: call `statsFor`
    * again after a [[compactPostings]], whose dir swap makes the old
    * frame fail with `FAILED_READ_FILE.FILE_NOT_EXIST`.
    */
  def statsFor(spark: SparkSession, sourceDir: String): Option[Bm25Stats] = {
    val tag = IndexStore.pathTag(sourceDir)
    val meta = AnnIndex.readMeta(kwBase(spark, tag))
    // n_docs_stat, NOT n_docs: BM25's N is the count of docs with at
    // least one token (what the derived path counts over postings) —
    // meta n_docs is source cardinality and over-counts token-less docs
    if (meta.get("n_docs_stat").exists(_ > 0L) && statsCurrent(meta)) {
      syncDfs(spark, tag)
      if (spark.catalog.tableExists(dfsName(tag)))
        Some(Bm25Stats(meta("n_docs_stat"), meta("sum_dl"),
          spark.table(dfsName(tag))))
      else None
    } else None
  }

  /** Deterministic build-plus-upsert (the q82 shape): reuse when the
    * COMBINED fingerprint already matches, else build on `baseDocs` and
    * upsert `tailDocs` — [[AnnIndex.ensureLshUpserted]]'s idempotence
    * contract for the lexical index.
    */
  def ensurePostingsUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseDocs: DataFrame,
      tailDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val (nb, fb) = AnnIndex.fingerprint(
      baseDocs.select(baseDocs(idCol), baseDocs(textCol)))
    val (nt, ft) = AnnIndex.fingerprint(
      tailDocs.select(tailDocs(idCol), tailDocs(textCol)))
    val ubase = kwBase(spark, tag)
    val combinedFresh = metaMatches(
      AnnIndex.readMeta(ubase), nb + nt, fb ^ ft) &&
      AnnIndex.readMeta(ubase).get("tomb_rows").forall(_ == 0L) &&
      AnnIndex.servable(spark, Seq(s"$ubase/postings"),
        registered(spark, tag), () => attach(spark, tag))
    if (!combinedFresh) {
      build(spark, tag, baseDocs, idCol, textCol, nb, fb, None)
      upsertPostings(spark, sourceDir, tailDocs, idCol, textCol)
    }
    served(spark, tag)
  }
}
