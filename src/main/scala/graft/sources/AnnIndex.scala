package graft.sources

import graft.operators.SimilaritySearch
import graft.sources.Passes.pass
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** PERSISTED approximate-nearest-neighbor index (SURVEY.md §2.1 S4/S5 +
  * §4 O3). The reference creates its vector index ONCE and queries it
  * repeatedly (`/root/reference/AI.py:47-55`, queried per ask at
  * `AI.py:138`); the in-memory paths in [[SimilaritySearch]] recompute
  * signatures (LSH) or the whole k-means build (IVF) inside every query.
  * At a 100 TB index the build dwarfs any single query — amortizing it is
  * the entire point of an index. This module stores:
  *
  *  - Codec layouts, two lifecycles written once over a private
  *    `Codec`. The FLAT one (one scan table of codec rows) serves SQ8
  *    and BQ (`codes` bucketed by vec_id), LSH, a flat codec whose
  *    rows are bucket ids: `buckets` holds `(tb, vec_id)` with
  *    `tb = table * 2^bits + bucket`, bucketed and sorted by `tb` —
  *    queries broadcast their probed bucket ids and equi-join it on
  *    `tb`, so no signature is recomputed over the index side and the
  *    index scan is one pass over a narrow (long, long) relation —
  *    and the TRAINED flat PQ and OPQ codecs, whose model (PQ:
  *    `codebook`; OPQ: `rotation`, then `codebook` over the rotated
  *    vectors) is plain parquet written at build and read back to
  *    encode; they get no upsert, delete or compact verb. The
  *    IVF one (Lloyd-refined centroids, tiny plain parquet, plus the
  *    inverted `lists` partitioned by centroid_id — probing nProbe
  *    lists per query is partition pruning, the classic inverted-file
  *    read pattern — and any trained codec model such as the PQ
  *    codebook) serves IVF-SQ8, IVF-BQ and IVF-PQ with encoded lists,
  *    and float IVF, whose lists `(vec_id, embedding, centroid_id)`
  *    carry the vectors themselves. Every other layout keeps the float
  *    vectors bucketed by vec_id for the exact re-rank; all keep
  *    merge-on-read tombstones. A rebuild un-names the stored content
  *    before it replaces any dir, so an interrupted one is rebuilt by
  *    the next ensure and refused by the other verbs.
  *
  * Freshness contract: `ensure*` rebuilds when the stored meta (operating
  * point + row count) no longer matches the source frame; the layout is
  * keyed by a tag of the source dir so different fixtures never collide.
  * (A production deployment would key on a table snapshot/version id
  * instead of a row-count heuristic; the fixtures are immutable files.)
  *
  * A handle (and any frame built from one) is bound to the file
  * listing of the moment it was returned. A `compact*` swaps the
  * layout's dirs and deletes the old files, so a handle an
  * `open*`/`ensure*` returned before the compaction fails with a
  * file-not-found read error (`FAILED_READ_FILE.FILE_NOT_EXIST`) when
  * used after it: open again after every compaction.
  *
  * The IVF probe collects its probed centroid ids to the driver as
  * partition literals: that set is O(queries × nProbe), capped by the
  * list count — bounded by the QUERY batch, never by the index — which
  * is what makes it a planner-side constant rather than a driver-side
  * data loop. The LSH probe set (queries × tables × probes, easily
  * 10^4+) is too large for literal pushdown and goes through a
  * broadcast join instead — see [[queryLsh]].
  */
object AnnIndex {

  // ---------------------------------------------------------------- LSH

  /** `indexedPaths`: the normalized root paths of the file relation(s)
    * the index was built over (empty when the source was an in-memory
    * frame). The plan rewrite compares a candidate scan's paths against
    * these — an exact set match, not a directory-prefix test.
    */
  final case class LshHandle(buckets: DataFrame, vecs: DataFrame,
      tables: Int, bits: Int, indexedPaths: Seq[String] = Nil)

  /** Root of every persisted layout (`spark.graft.ann.basePath`,
    * default `/tmp`): fixtures live on local disk; a deployment points
    * this at shared storage so executors and follow-on sessions see one
    * layout. Must be stable across the sessions that share an index.
    */
  private[sources] def annBase(spark: SparkSession): String =
    spark.conf.get("spark.graft.ann.basePath", "/tmp").stripSuffix("/")

  private def metaPath(base: String) = Paths.get(base, "_ann_meta.json")

  /** Meta is a [[StoreFiles.commit]] written only AFTER the index
    * tables are fully materialized — a rebuild un-names the old content
    * first ([[unnameContent]]), so a crashed or concurrent build leaves
    * either a meta naming no content (→ next ensure* rebuilds) or the
    * new complete state, never a meta pointing at half-written tables.
    * (Two concurrent builders over the SAME immutable fixture write
    * identical content, so last-writer-wins is benign; a production
    * deployment over mutable sources would key the layout on a table
    * snapshot id instead.)
    */
  private[sources] def writeMetaFull(base: String, num: Seq[(String, Long)],
      str: Seq[(String, String)]): Unit =
    StoreFiles.commit(metaPath(base), num ++ str: _*)

  /** Normalized form used for index-vs-scan path identity: scheme
    * prefix stripped, `.` / `..` segments resolved, no trailing slash.
    * Comparisons are exact per path — a prefix match would admit a
    * sibling dir (`/data/sf0.1` vs `/data/sf0.10`) or a different
    * table under the same source dir.
    */
  private[graft] def normalizePath(p: String): String = {
    val s = p.stripPrefix("file:")
    val t = if (s.startsWith("/")) Paths.get(s).normalize().toString else s
    if (t.length > 1) t.stripSuffix("/") else t
  }

  /** Concrete root paths of the file relation(s) feeding `df` —
    * recorded in the index meta so the plan rewrite can verify a
    * candidate scan reads EXACTLY the indexed relation. Empty for
    * in-memory frames (localRelation test fixtures).
    */
  private def relationPaths(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(p => normalizePath(p.toString)).toSeq
        case _ => Seq.empty[String]
      }
    }.flatten.distinct.sorted
  }

  private[sources] def readMetaStrs(base: String): Map[String, String] =
    StoreFiles.readStrs(metaPath(base))

  private def joinPaths(paths: Seq[String]): String = paths.mkString(";")
  private def splitPaths(s: String): Seq[String] =
    s.split(';').toSeq.filter(_.nonEmpty)

  /** Content fingerprint of the index frame: (row count, order-independent
    * xxhash64 checksum over id + embedding). One pass — the same scan the
    * old row-count freshness probe paid — but a source change that
    * preserves cardinality (row edits, id reshuffles) now invalidates the
    * persisted layout instead of silently reusing a stale index.
    */
  private[sources] def fingerprint(index: DataFrame): (Long, Long) = {
    // bit_xor, not sum: order-independent like sum but cannot overflow
    // under ANSI mode; rows are unique (vec_id is hashed in) so the
    // xor of per-row hashes keeps full sensitivity.
    val cols = index.columns.map(col).toIndexedSeq
    val r = index.agg(count(lit(1)), bit_xor(xxhash64(cols: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Re-attach an external table written by an EARLIER process: the
    * parquet layout (and its meta) survive in the store, only the
    * session-catalog registration dies with the JVM. Registration is
    * DDL-only — no data pass, no rebuild.
    */
  private[sources] def registerExternal(spark: SparkSession, table: String,
      path: String, clusteredBy: Option[(String, Int)] = None,
      partitionedBy: Option[String] = None): Unit = {
    // footer-schema DDL (no inference job); a partitioned table appends
    // its partition column at the type discovery infers from the dir
    // names — any other shape keeps the inference read
    val schema = ParquetIO.footerSchema(spark, path).flatMap(s =>
        partitionedBy.fold(Option(s))(c =>
          ParquetIO.partitionType(spark, path, c).map(s.add(c, _))))
      .getOrElse(spark.read.parquet(path).schema)
    val colsDdl = schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val partDdl = partitionedBy
      .map(c => s" PARTITIONED BY ($c)").getOrElse("")
    val clusterDdl = clusteredBy.map { case (c, n) =>
      s" CLUSTERED BY ($c) SORTED BY ($c) INTO $n BUCKETS"
    }.getOrElse("")
    spark.sql(s"CREATE TABLE $table ($colsDdl) USING parquet" +
      s"$partDdl$clusterDdl LOCATION '$path'")
    if (partitionedBy.isDefined) spark.sql(s"MSCK REPAIR TABLE $table")
  }

  private[sources] def readMeta(base: String): Map[String, Long] =
    StoreFiles.readNums(metaPath(base))

  /** Meta is the COMMIT POINT for tombstones: a tombs dir is SERVED
    * only when the committed meta records `tomb_rows > 0`. A crash
    * between a delete verb's tombs append and its meta commit leaves
    * orphan tomb files under a meta that still reads tombFree —
    * registering those would make `ensure*` judge the layout fresh
    * while the served handle silently anti-joins ids that were never
    * committed (under-serving the source it claims to equal exactly).
    * Orphans are ignored at attach/open time and swept by
    * [[sweepOrphanTombs]] before the next delete commits.
    */
  private[sources] def tombsCommitted(base: String): Boolean =
    readMeta(base).get("tomb_rows").exists(_ > 0L)

  private[sources] def tombsServable(spark: SparkSession,
      base: String): Boolean =
    tombsCommitted(base) && parquetReadable(spark, s"$base/tombs")

  /** Align this session's tombs registration with the STORE's committed
    * state WITHOUT paying catalog DDL when nothing changed — the open*
    * hot path. The round-12 pattern (unconditional DROP + conditional
    * CREATE per open) made every open call grow the session catalog's
    * DDL history, so plan time grew with session age. States:
    *
    *   committed+registered   → refreshTable only (file re-list, no DDL)
    *   committed+unregistered → registerExternal (another session's
    *                            delete appeared)
    *   uncommitted+registered → DROP (another session's fold/rebuild
    *                            cleared them)
    *   uncommitted+unregistered → nothing
    *
    * The table name ↔ path mapping is deterministic per tag, so a
    * surviving registration never needs a path check, and the refresh
    * covers tombstone APPENDS by other sessions.
    */
  private[sources] def syncTombs(spark: SparkSession, base: String,
      table: String, clusteredBy: Option[(String, Int)] = None): Unit = {
    val committed = tombsServable(spark, base)
    val registered = spark.catalog.tableExists(table)
    if (committed && registered) spark.catalog.refreshTable(table)
    else if (committed)
      registerExternal(spark, table, s"$base/tombs", clusteredBy)
    else if (registered) spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Sweep a tombs dir the meta never committed (the crashed-delete
    * orphan) — folding uncommitted ids into a new delete batch would
    * commit MORE tombstones than the batch's counted `nDel`, so the
    * served anti-join and the meta's `tomb_rows` would disagree
    * forever. Called by every delete verb before it appends.
    *
    * SINGLE-DELETER DISCIPLINE (per index): a CONCURRENT delete in
    * another session sits in exactly the swept state between its tombs
    * append and its meta commit — this sweep would remove its rows,
    * and its subsequent meta commit would then record `tomb_rows` for
    * tombstones no longer on disk (the served anti-join under-deletes
    * vs the meta forever). Deletes against one index must therefore
    * not run concurrently across sessions (no lease primitive on a
    * bare parquet layout — the same single-writer rule every compact*
    * verb documents); concurrent READERS are fine, and a queued
    * multi-session delete pipeline serializes per index.
    */
  private[sources] def sweepOrphanTombs(spark: SparkSession, base: String,
      table: String): Unit =
    if (!tombsCommitted(base)) dropTombs(spark, base, table)

  /** Drop a layout's tombstones: the registration and the dir. */
  private[sources] def dropTombs(spark: SparkSession, base: String,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    StoreFiles.rm(s"$base/tombs")
  }

  /** True iff `path` holds a readable parquet layout — one footer/schema
    * read, no data pass. The `ensure*` freshness checks use this so a
    * crashed compaction's missing dir reads as STALE (rebuild) instead
    * of an eternally-throwing attach.
    */
  private[sources] def parquetReadable(spark: SparkSession,
      path: String): Boolean =
    try {
      // short-circuit the common absent-dir case (e.g. a store that has
      // never seen a delete has no tombs dir) WITHOUT raising: Spark 4's
      // cached-analysis stack rewriting makes a thrown-and-caught
      // PATH_NOT_FOUND indistinguishable from a real failure in logs.
      // The probe is a DRIVER-side single-footer read (ParquetIO) — the
      // old spark.read.parquet(path).schema ran schema inference, which
      // schedules a footer-reading Spark job per call (~25 ms of job
      // latency × every servable/open freshness check)
      Files.exists(Paths.get(path)) &&
        ParquetIO.readableFooter(spark, path)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** THE reuse-vs-rebuild probe, shared by every `ensure*` freshness
    * site (LSH, IVF-adjacent, postings): a layout is servable iff every
    * data dir is readable (footer probe — the session catalog must NOT
    * be trusted: files can vanish under a surviving registration) AND
    * the registration exists or can be re-attached. Any failure ⇒ the
    * caller treats the layout as stale and rebuilds — the recovery path
    * for a compaction or build crash.
    */
  private[sources] def servable(spark: SparkSession, dataDirs: Seq[String],
      isRegistered: => Boolean, attachFn: () => Unit): Boolean =
    dataDirs.forall(parquetReadable(spark, _)) &&
      (isRegistered ||
        (try { attachFn(); true }
        catch { case scala.util.control.NonFatal(_) => false }))

  // ------------------------------------------------------ LSH lifecycle
  // the flat lifecycle ([[ensureFlat]] … [[compactFlat]]) at [[Lsh]]

  /** `verb`'s flat handle at `c`, with the stored `source_paths`. */
  private def servedLsh(spark: SparkSession, sourceDir: String, c: Lsh)(
      verb: Lsh => CodesHandle): LshHandle = {
    val h = verb(c)
    LshHandle(h.codes, h.vecs, c.tables, c.bits,
      readMetaStrs(flatLayout(c, spark, sourceDir).base).get("source_paths")
        .map(splitPaths).getOrElse(Nil))
  }

  /** Run a lifecycle verb that takes no operating point at the one the
    * layout's meta records (the [[atStoredPq]] shape). An unbuilt layout
    * yields zeros, which the lifecycle's `built` check refuses.
    */
  private def atStoredLsh(spark: SparkSession, sourceDir: String)(
      verb: Lsh => CodesHandle): LshHandle = {
    val meta = readMeta(flatLayout(Lsh(0, 0), spark, sourceDir).base)
    def at(k: String) = meta.getOrElse(k, 0L).toInt
    servedLsh(spark, sourceDir, Lsh(at("tables"), at("bits")))(verb)
  }

  /** Build (or reuse) the persisted LSH index over `index(vec_id,
    * embedding)`. One pass computes all `tables` signatures per vector;
    * both tables land bucketed + sorted through the catalog.
    *
    * `snapshotId`: freshness WITHOUT the content scan. The default
    * build-or-reuse decision pays one O(n) fingerprint pass over the
    * source per call — right for fixtures, a full table scan per
    * session attach at 100 TB. When the caller can name an immutable
    * source snapshot (a lake table version, a partition manifest hash),
    * passing its id makes reuse O(1): an index whose meta carries the
    * SAME id at the same operating point is trusted outright — no scan.
    * A different (or absent) stored id falls back to the fingerprint
    * path, which rebuilds only on real content change and then records
    * the new id, so the scan is paid once per snapshot, not once per
    * call. Contract: ids must name immutable content — reusing an id
    * after mutating the source serves a stale index by construction.
    * [[upsertLsh]] drops the stored id (the layout moves ahead of the
    * named snapshot). A tombstoned or unreadable layout rebuilds.
    */
  def ensureLsh(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): LshHandle =
    servedLsh(spark, sourceDir, Lsh(tables, bits))(c =>
      ensureFlat(c, spark, sourceDir, index, storageBuckets, snapshotId))

  /** Incremental add into an EXISTING persisted LSH index — the
    * reference's index-once/upsert-many lifecycle (Pinecone
    * `index.upsert`, `/root/reference/AI.py:53-55`) without a rebuild:
    * signatures are computed for the NEW vectors only and appended to
    * the bucketed layout, a per-batch O(new) cost where a rebuild is
    * O(index). The meta checksum is an xor of per-row hashes, so it
    * composes incrementally (`old ⊕ fingerprint(new)`) and later
    * `ensure*` freshness checks remain exact without rescanning old
    * rows. Append-only contract: `newVecs` ids must be previously
    * unseen — replacing an existing id needs a delete + compaction
    * pass; a tombstoned id fails loudly until [[compactLsh]] folds it.
    *
    * `batchId`: the idempotent-foreachBatch recipe for at-least-once
    * streaming replay. When set, a batch whose id is ≤ the meta's
    * `last_batch_id` is SKIPPED — a crash-replayed micro-batch neither
    * re-appends its rows (duplicate vecs rows would multiply rerank
    * candidates and could push duplicate vec_ids into the top-k) nor
    * double-xors the checksum. The remaining window is a crash BETWEEN
    * the table appends and the meta commit: that one batch replays as
    * a duplicate — closing it needs an atomically-committing table
    * format, out of scope for a parquet layout. The indexed
    * `source_paths` grow by the batch's relations; any stored
    * `snapshot_id` is dropped.
    */
  def upsertLsh(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): LshHandle =
    servedLsh(spark, sourceDir, Lsh(tables, bits))(c =>
      upsertFlat(c, spark, sourceDir, newVecs, storageBuckets, batchId))

  /** Delete by id from the persisted LSH index — the float layout's
    * twin of [[deleteSq8]]. Merge-on-read vec_id tombstones; the served
    * handle anti-joins them on both sides (vecs co-bucketed, buckets via
    * a broadcast of the deletion-bounded tombstone set). A delete drops
    * the stored snapshot_id (the layout moved past the snapshot that id
    * named) but KEEPS `source_paths`: the index remains the
    * authoritative serving view of its source under the vector-store
    * delete contract (Pinecone `delete(ids=)` composed with
    * `as_retriever()`, `/root/reference/AI.py:138` — a user who deletes
    * keeps querying the same index), so the [[graft.plans.LshAnnPlan]]
    * rewrite keeps serving raw-source kNN through the index, tombstone
    * anti-join included — survivors-exact, never O(n) exact-scan
    * degraded. That contract is the rewrite's OPT-IN semantic: enabling
    * `persistedSource` declares index-side deletes authoritative for
    * matching source scans (see [[graft.plans.LshAnnPlan.Config]]).
    * Explicit [[queryLsh]]/[[openLsh]] callers serve the same
    * tombstoned view; [[compactLsh]] folds physically; [[ensureLsh]]
    * still treats a tombstoned layout as stale ("serve exactly this
    * source") and rebuilds; re-inserting a deleted id fails loudly in
    * [[upsertLsh]]; `batchId` replay-skip rides the delete counter
    * (`last_del_batch_id`).
    */
  def deleteLsh(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): LshHandle =
    atStoredLsh(spark, sourceDir)(c =>
      deleteFlat(c, spark, sourceDir, ids, batchId))

  /** True iff a persisted LSH layout exists for `sourceDir` AT the
    * given operating point (meta check only — no readability or
    * freshness probe; the [[ivfExists]] contract). Lets callers branch
    * build-vs-open explicitly — the delete-serving lifecycle needs
    * this, since a tombstoned layout deliberately fails [[ensureLsh]]'s
    * freshness ("serve exactly this source") and must be OPENED, not
    * re-ensured, to keep serving its deletions.
    */
  def lshExists(spark: SparkSession, sourceDir: String,
      tables: Int = 64, bits: Int = 12,
      storageBuckets: Int = 8): Boolean =
    existsFlat(Lsh(tables, bits), spark, sourceDir,
      flatPoint(Lsh(tables, bits), storageBuckets))

  /** Open an existing persisted LSH index read-only, WITHOUT a
    * freshness probe — the reader's path while a writer (e.g. a
    * [[graft.streaming.StreamOps.streamingIndexUpsert]] stream)
    * appends concurrently: no fingerprint scan, no rebuild decision,
    * just a catalog attach if this process hasn't one yet, else a
    * relation-cache refresh. The operating point comes from the stored
    * meta.
    */
  def openLsh(spark: SparkSession, sourceDir: String): LshHandle =
    atStoredLsh(spark, sourceDir)(c => openFlat(c, spark, sourceDir))

  /** Compact the persisted LSH layout ([[compactFlat]]): a streaming
    * upsert appends one file set per micro-batch into each bucketed
    * table, and file count — not row count — is what erodes scan
    * planning over time. Rewrites both tables at the same (bucketing,
    * sort) spec in side dirs swapped in by rename, folding any
    * tombstones; the operating point, replay windows and
    * `source_paths` are kept. Not safe concurrent with a writer — run
    * between ingest windows.
    */
  def compactLsh(spark: SparkSession, sourceDir: String): LshHandle =
    atStoredLsh(spark, sourceDir)(c => compactFlat(c, spark, sourceDir))

  /** Build-or-reuse for a base + upserted-tail index
    * ([[ensureUpserted]]): reused when the stored meta already equals
    * base ⊕ tail, else the base is built and the tail upserted.
    */
  def ensureLshUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseRows: DataFrame,
      tailRows: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8): LshHandle =
    servedLsh(spark, sourceDir, Lsh(tables, bits)) { c =>
      val l = flatLayout(c, spark, sourceDir)
      ensureUpserted(spark, l, flatPoint(c, storageBuckets), storageBuckets,
        baseRows, tailRows)(
        (n, fp) => buildFlat(c, spark, l, baseRows, storageBuckets, n, fp,
          None),
        tail => upsertFlat(c, spark, sourceDir, tailRows, storageBuckets,
          None, Some(tail)))
      flatHandle(spark, l)
    }

  /** Query the persisted LSH index: probe buckets come from the (small)
    * query side only and reach the index through a broadcast equi-join
    * on `tb`; candidates re-rank exactly. No index-side signature
    * recomputation. The probe set is NOT materialized into an `IN
    * (literal, ...)` filter: at the shipped operating points it holds
    * queries × tables × probes ≈ 10^4+ bucket ids, and a 20k-literal
    * predicate costs seconds of optimizer/AQE time per stage (measured
    * 11 s → 0.4 s on q67 at sf0.1) while pruning nothing — every
    * storage bucket is hit once the probe set outnumbers them. The
    * broadcast hash join gives the same row-level filtering at scan
    * speed; at a 100 TB index the bucket table is a narrow
    * (long, long) relation, and the join remains one pass over it with
    * no shuffle of the index side.
    */
  def queryLsh(
      queries: DataFrame,
      handle: LshHandle,
      k: Int = 4,
      probes: Int = 1): DataFrame =
    SimilaritySearch.rerank(
      lshProbeCandidates(queries, handle, probes), queries, handle.vecs, k)

  /** FILTERED [[queryLsh]] — pre-filter semantics (the
    * [[querySq8Filtered]] contract on the float layout): top-k WITHIN
    * `allowed(vec_id)`, not a post-filter of the unfiltered top-k that
    * could return < k rows. The filter lands on the id-only candidate
    * stream (one semi-join before the rerank fetch), so a selective
    * filter SHRINKS the rerank, never grows it. Recall is the bucket
    * probe's: a filtered answer can only surface candidates the probe
    * nominated — at the shipped recall-1.0 operating point the q213
    * oracle hash-matches exact kNN over the filtered set at every
    * fixture scale (the q204 survivors measurement, generalized to an
    * arbitrary predicate).
    */
  def queryLshFiltered(
      queries: DataFrame,
      handle: LshHandle,
      allowed: DataFrame,
      k: Int = 4,
      probes: Int = 1): DataFrame =
    SimilaritySearch.rerank(
      lshProbeCandidates(queries, handle, probes)
        .join(allowed.select("vec_id"), Seq("vec_id"), "left_semi"),
      queries, handle.vecs, k)

  /** Agg-form [[queryLsh]]: stops at the bounded TopKAgg aggregate —
    * output (query_id, topk). The sub-plan the ANN rewrite splices when
    * the user's naive query is the TopKAgg-aggregate kNN formulation.
    */
  def queryLshAgg(
      queries: DataFrame,
      handle: LshHandle,
      k: Int = 4,
      probes: Int = 1): DataFrame =
    SimilaritySearch.rerankAgg(
      lshProbeCandidates(queries, handle, probes), queries, handle.vecs, k)

  /** Candidate (query_id, vec_id) pairs from the stored bucket table —
    * shared by the exploded and agg-form query paths, and by the
    * blended-score adaptive retriever
    * ([[graft.rag.RagPipeline.adaptiveRetrievePersisted]]), which probes
    * with TWO vectors per query and re-ranks the candidate union.
    */
  private[graft] def lshProbeCandidates(
      queries: DataFrame, handle: LshHandle, probes: Int): DataFrame = {
    import graft.functions.expressions.VectorExpressions.lsh_buckets_probe
    val qb = broadcast(queries
      .select(col("query_id"),
        posexplode(lsh_buckets_probe(col("query_vec"), handle.tables,
          handle.bits, probes)).as(Seq("pos", "bucket")))
      .select(col("query_id"),
        ((col("pos") / probes).cast("long") * (1L << handle.bits) +
          col("bucket")).as("tb")))
    handle.buckets
      .join(qb, Seq("tb"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
  }

  // ---------------------------------------------------------------- IVF
  // the IVF lifecycle ([[ensureIvfCodes]] … [[compactIvfCodes]]) at
  // [[FloatIvf]]; its layout buckets nothing, so the storage bucketing
  // these verbs pass (0) is never read

  final case class IvfHandle(centroids: DataFrame, lists: DataFrame)

  /** The float-IVF view of the IVF lifecycle's handle: its lists carry
    * the vectors, so the handle is the centroids and the served lists.
    */
  private def floatIvf(h: IvfCodesHandle): IvfHandle =
    IvfHandle(h.centroids, h.lists)

  /** The drift gate of every upsert into a centroid-partitioned
    * layout (IVF, the IVF codec layouts, PLAID): centroids and any codec
    * model are trained at build time only, so recall erodes as the
    * upserted tail grows relative to the trained base (`n_base` in the
    * meta). The gate bounds that tail/base ratio
    * (`spark.graft.ann.ivf.maxTailRatio`, default 1.0) and fails LOUDLY
    * when adding `nNew` rows would cross it — a silently degraded
    * serving index is worse than a failed ingest batch. Returns the
    * trained base to commit as `n_base`: a pre-n_base meta (an older
    * layout) treats its current size as the base, and the gate bounds
    * growth from there.
    */
  private[sources] def driftGate(spark: SparkSession, verb: String,
      meta: Map[String, Long], nNew: Long): Long = {
    val nBase = meta.getOrElse("n_base", meta("n_rows"))
    val tailAfter = meta("n_rows") + nNew - nBase
    val maxRatio =
      spark.conf.get("spark.graft.ann.ivf.maxTailRatio", "1.0").toDouble
    if (nBase > 0 && tailAfter > maxRatio * nBase)
      throw new IllegalStateException(
        f"upsert$verb drift gate: upserted tail would reach $tailAfter " +
          f"rows against a trained base of $nBase " +
          f"(ratio ${tailAfter.toDouble / nBase}%.2f > $maxRatio%.2f). " +
          s"Rebuild with ensure$verb to retrain, or raise " +
          "spark.graft.ann.ivf.maxTailRatio.")
    nBase
  }

  /** Build (or reuse) the persisted IVF index: k-means centroids
    * (deterministic hash-draw seeding + Lloyd rounds, see
    * [[SimilaritySearch.kMeansCentroids]] — farthest-first/k-means++
    * seeding was measured to DEGRADE recall at sf0.1 by outlier-chasing,
    * the classic k-center failure; see the q37 operating-point notes in
    * PipelineQueries) and inverted lists partitioned by centroid, each
    * list row carrying its vector so a probe needs no second join.
    * Freshness as [[ensureLsh]] (snapshot id or content fingerprint; a
    * tombstoned or unreadable layout rebuilds).
    */
  def ensureIvf(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 32,
      iters: Int = 5,
      snapshotId: Option[String] = None): IvfHandle =
    floatIvf(ensureIvfCodes(FloatIvf, spark, sourceDir, index, lists, iters,
      0, snapshotId))

  /** Incremental add into an EXISTING persisted IVF index: new vectors
    * are assigned to the STORED centroids (no k-means — the index
    * lifecycle retrains on rebuild, not on upsert, exactly like a
    * Pinecone-style serving index) and appended into the partitioned
    * inverted lists; the meta checksum xor-composes like
    * [[upsertLsh]]'s. Same append-only id contract. Centroid drift is
    * BOUNDED, not just documented: the meta tracks the row count the
    * centroids were trained on (`n_base`), and an upsert that would
    * push the accumulated tail past `maxTailRatio × n_base` throws
    * instead of silently eroding the measured recall floor — rebuild
    * (`ensureIvf`) to retrain, or raise
    * `spark.graft.ann.ivf.maxTailRatio` deliberately.
    */
  def upsertIvf(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      lists: Int = 32,
      iters: Int = 5): IvfHandle =
    floatIvf(upsertIvfCodes(FloatIvf, spark, sourceDir, newVecs,
      Some((lists, iters, 0)), None))

  /** True iff a persisted float-IVF layout exists for `sourceDir` AT
    * the given operating point (meta check only — the [[sq8Exists]]
    * contract; a tombstoned layout must be served through its handle,
    * not re-ensured).
    */
  def ivfExists(spark: SparkSession, sourceDir: String,
      lists: Int = 32, iters: Int = 5): Boolean =
    existsIvfCodes(FloatIvf, spark, sourceDir, lists, iters, 0)

  /** Delete by id from the persisted float-IVF index. Merge-on-read
    * vec_id tombstones served through a broadcast anti-join on the
    * probed lists (this layout has no id-bucketed side; the tombstone
    * set is deletion-bounded). Ids the layout does not serve (absent or
    * already deleted) are not tombstoned; [[compactIvf]] folds
    * physically; re-inserting a deleted id fails loudly in
    * [[upsertIvf]]; a delete moves the layout past any named snapshot;
    * `batchId` replay-skip rides the delete counter.
    */
  def deleteIvf(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfHandle =
    floatIvf(deleteIvfCodes(FloatIvf, spark, sourceDir, ids, batchId))

  /** Open an existing persisted float-IVF index read-only, WITHOUT a
    * freshness probe — the [[openSq8]] contract on the float layout:
    * no fingerprint scan, no rebuild decision, just a catalog
    * attach/refresh. The reader's path for a tombstoned layout, which
    * deliberately fails [[ensureIvf]]'s "serve exactly this source"
    * freshness and must be OPENED to keep serving its deletions.
    */
  def openIvf(spark: SparkSession, sourceDir: String): IvfHandle =
    floatIvf(openIvfCodes(FloatIvf, spark, sourceDir))

  /** [[compactIvfSq8]]'s float-IVF twin: rewrites the partitioned
    * inverted lists of an [[ensureIvf]] layout into few files per
    * partition, folding any tombstones; centroids (tiny plain parquet)
    * untouched.
    */
  def compactIvf(spark: SparkSession, sourceDir: String): IvfHandle =
    floatIvf(compactIvfCodes(FloatIvf, spark, sourceDir))

  /** Build-or-reuse for a base + upserted-tail IVF index
    * ([[ensureUpserted]]): reused when the stored meta equals
    * base ⊕ tail; otherwise k-means trains on the BASE only, then the
    * tail is upserted against the stored centroids — the shape a
    * serving index lifecycle takes (train at build time, assign-only on
    * ingest).
    */
  def ensureIvfUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseRows: DataFrame,
      tailRows: DataFrame,
      lists: Int = 32,
      iters: Int = 5): IvfHandle = {
    val l = ivfLayout(FloatIvf, spark, sourceDir)
    ensureUpserted(spark, l, ivfPoint(FloatIvf, lists, iters, 0), 0,
      baseRows, tailRows)(
      (n, fp) => buildIvf(FloatIvf, spark, l, baseRows, lists, iters, 0, n,
        fp, None),
      tail => upsertIvfCodes(FloatIvf, spark, sourceDir, tailRows,
        Some((lists, iters, 0)), None, Some(tail)))
    floatIvf(ivfCodesHandle(spark, l))
  }

  /** Query the persisted IVF index: rank centroids per query (broadcast,
    * tiny), push `centroid_id IN (probed)` into the partitioned scan, and
    * re-rank the probed lists' rows — no k-means, no assignment pass.
    */
  def queryIvf(
      queries: DataFrame,
      handle: IvfHandle,
      k: Int = 4,
      nProbe: Int = 2): DataFrame = {
    val probes = SimilaritySearch.ivfProbes(queries, handle.centroids, nProbe)
    // Partition pruning WITHOUT a driver round-trip: the broadcast join
    // on the partition column triggers dynamic partition pruning on the
    // partitioned lists scan (only probed centroid_id directories are
    // read). The previous collect + `isin` literal push was equivalent
    // at serving batch sizes but serialized queries x nProbe ids through
    // the driver and the plan cache on every call — a 10^5-query offline
    // batch pays that in the literal list; DPP keeps the plan
    // driver-independent at any batch size (PlanInvariantsSpec pins it).
    val cand = handle.lists
      .join(broadcast(probes), Seq("centroid_id"))
      .select("query_id", "vec_id", "embedding")
    SimilaritySearch.rerankWithVecs(cand, queries, k)
  }

  /** FILTERED [[queryIvf]] — pre-filter semantics on the float-IVF
    * layout (the [[queryIvfSq8Filtered]] contract without the
    * quantization): top-k within `allowed(vec_id)`, the filter
    * semi-joined onto the DPP-probed lists before the rerank. Recall
    * is the probe's (a filtered hit must live in a probed list) —
    * q214's panel pins identity to the pre-filtered-lists IVF and the
    * exact-recall floor, the q143 discipline.
    */
  def queryIvfFiltered(
      queries: DataFrame,
      handle: IvfHandle,
      allowed: DataFrame,
      k: Int = 4,
      nProbe: Int = 2): DataFrame = {
    val probes = SimilaritySearch.ivfProbes(queries, handle.centroids,
      nProbe)
    val cand = handle.lists
      .join(broadcast(probes), Seq("centroid_id"))
      .join(allowed.select("vec_id"), Seq("vec_id"), "left_semi")
      .select("query_id", "vec_id", "embedding")
    SimilaritySearch.rerankWithVecs(cand, queries, k)
  }

  // ---------------------------------------- LSH / SQ8 / BQ / PQ / IVF codecs

  /** A vector codec of the codec layouts: flat LSH/SQ8/BQ and the
    * composed IVF-SQ8/IVF-BQ/IVF-PQ plus float IVF (the lists keep the
    * vectors themselves). The codec names its stores
    * (`graft_ann_<stem>_<tag>`, catalog tables
    * `graft_<stem>_<table>_<tag>`; the IVF form prefixes `ivf`), the
    * verb suffix and label its error messages carry, and any
    * operating-point keys of its own. It plays one or both of the two
    * roles the lifecycles use: [[FlatCodec]] and [[IvfCodec]].
    */
  private sealed abstract class Codec(val stem: String, val verb: String,
      val label: String) {
    /** The codec's own operating point as meta entries, checked and
      * committed next to the layout's (buckets; IVF: lists/iters).
      */
    def point: Seq[(String, Long)] = Nil
    /** The layout's trained-model dirs: plain parquet, read by path. */
    def modelDirs: Seq[String] = Nil
    /** Train the model on the build's (vec_id, embedding) and persist
      * it under `base` — a build step, run before any row is encoded.
      */
    def train(index: DataFrame, base: String): Unit = ()
  }

  /** The flat role: an encoding into the scan table `scanDir`, bucketed
    * by `scanKey`, with any model persisted under the layout dir. The
    * upsert ≡ rebuild argument holds for untrained ([[PerRowCodec]])
    * codecs only: a trained one is rebuilt, never upserted into.
    */
  private sealed trait FlatCodec extends Codec {
    /** (vec_id, embedding) → the scan table's rows. */
    def encode(index: DataFrame, base: String): DataFrame
    def scanDir: String = "codes"
    def scanKey: String = "vec_id"
    /** The codec's own string meta once `rows` have joined a layout
      * whose stored strings are `prior` (empty at a build).
      */
    def strMeta(rows: DataFrame,
        prior: Map[String, String]): Seq[(String, String)] = Nil
  }

  /** A flat codec whose encoding reads no global statistics (unlike
    * IVF centroids or a trained product-quantizer codebook), so
    * encoding new rows is EXACTLY a rebuild restricted to them — every
    * upsert ≡ rebuild argument of the flat lifecycle rests on this.
    */
  private sealed trait PerRowCodec extends FlatCodec

  /** The IVF role: vectors assigned to stored centroids and encoded
    * with a model the codec may train at build time.
    */
  private sealed trait IvfCodec extends Codec {
    /** True when `assign` keeps each row's float vector in `lists`: the
      * layout then has no `vecs` table (see [[CodecLayout]]).
      */
    def vecsInLists: Boolean = false
    /** (vec_id, embedding) → the IVF layout's `lists` rows: each vector
      * assigned to its nearest of `centroids` and encoded with the
      * model persisted under `base`.
      */
    def assign(index: DataFrame, centroids: DataFrame,
        base: String): DataFrame
  }

  /** int8 scalar quantization: (vec_id, codes binary, qscale, qnorm) —
    * 4× smaller than the float table, the bandwidth the quantized scan
    * saves at 100 TB.
    */
  private case object Sq8 extends Codec("sq8", "Sq8", "SQ8")
      with PerRowCodec with IvfCodec {
    def encode(index: DataFrame, base: String): DataFrame =
      SimilaritySearch.quantizeIndex(index)
    def assign(index: DataFrame, centroids: DataFrame,
        base: String): DataFrame =
      SimilaritySearch.assignQuantized(index, centroids)
  }

  /** 1-bit sign packing: (vec_id, bcodes) — ⌈dim/8⌉ bytes per row, 32×
    * under float32 and 8× under SQ8.
    */
  private case object Bq extends Codec("bq", "Bq", "BQ")
      with PerRowCodec with IvfCodec {
    def encode(index: DataFrame, base: String): DataFrame =
      SimilaritySearch.binarizeIndex(index)
    def assign(index: DataFrame, centroids: DataFrame,
        base: String): DataFrame =
      SimilaritySearch.assignBinary(index, centroids)
  }

  /** Product quantization at (numSub, ksub, pqIters): (vec_id, pqcodes,
    * pnorm) — `numSub` bytes per row. The per-subspace codebook trains
    * on the build's float vectors and lands under `codebook`; every
    * assignment encodes with that persisted model read back (faiss's
    * `add()`-after-`train()` contract), so codes and stored model can
    * never diverge. The model is distribution-bound like the centroids:
    * the drift gate covers both. The rounds' meta key: IVF `pq_iters`
    * (beside its own `iters`), flat `iters`.
    */
  private final case class Pq(numSub: Int, ksub: Int, pqIters: Int,
      itersKey: String = "pq_iters")
      extends Codec("pq", "Pq", "PQ") with FlatCodec with IvfCodec {
    override def point: Seq[(String, Long)] =
      Seq("num_sub" -> numSub.toLong, "ksub" -> ksub.toLong,
        itersKey -> pqIters.toLong)
    override def modelDirs: Seq[String] = Seq("codebook")
    override def train(index: DataFrame, base: String): Unit =
      SimilaritySearch.pqCodebooks(index, numSub, ksub, pqIters)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/codebook")
    private def codebook(spark: SparkSession, base: String): Array[Double] =
      SimilaritySearch.collectCodebook(
        ParquetIO.read(spark, s"$base/codebook"), numSub, ksub)
    def encode(index: DataFrame, base: String): DataFrame = {
      import graft.functions.expressions.PqExpressions.pq_encode
      index.select(col("vec_id"),
        pq_encode(col("embedding"), codebook(index.sparkSession, base),
          numSub, ksub).as("pqcodes"),
        graft.functions.VectorOps.l2Norm(col("embedding")).as("pnorm"))
    }
    def assign(index: DataFrame, centroids: DataFrame,
        base: String): DataFrame =
      SimilaritySearch.assignPqEncoded(index, centroids,
        codebook(index.sparkSession, base), numSub, ksub)
  }

  /** The PQ point stored in `meta` (zeros, refused by `built`, if none). */
  private def storedPq(meta: Map[String, Long], itersKey: String): Pq = {
    def at(k: String) = meta.getOrElse(k, 0L).toInt
    Pq(at("num_sub"), at("ksub"), at(itersKey), itersKey)
  }

  /** OPQ: the balanced rotation ([[writeRotation]]) trains into
    * `rotation`, then flat [[Pq]] trains and encodes over the vectors
    * rotated by that persisted model (codes carry the rotated norm).
    */
  private final case class Opq(pq: Pq)
      extends Codec("opq", "Opq", "OPQ") with FlatCodec {
    override def point: Seq[(String, Long)] = pq.point
    override def modelDirs: Seq[String] = "rotation" +: pq.modelDirs
    override def train(index: DataFrame, base: String): Unit = {
      writeRotation(index, pq.numSub, s"$base/rotation")
      pq.train(rotatedAt(index, base), base)
    }
    def encode(index: DataFrame, base: String): DataFrame =
      pq.encode(rotatedAt(index, base), base)
    private def rotatedAt(index: DataFrame, base: String): DataFrame =
      rotated(index, ParquetIO.read(index.sparkSession, s"$base/rotation"))
  }

  /** Float IVF: each list row carries its vector, `(vec_id, embedding,
    * centroid_id)`, so a probe re-ranks exactly from the lists alone.
    * No trained model and no point of its own: lists/iters is all.
    */
  private case object FloatIvf extends Codec("", "", "") with IvfCodec {
    override def vecsInLists: Boolean = true
    def assign(index: DataFrame, centroids: DataFrame,
        base: String): DataFrame =
      SimilaritySearch.assignWithVecs(index, centroids)
  }

  /** Random-hyperplane LSH at (tables, bits): one `(tb, vec_id)` row
    * per vector and hash table, `tb = table * 2^bits + bucket`.
    * `source_paths` records the normalized root paths of the file
    * relations the layout holds ([[LshHandle]]`.indexedPaths`) and grows
    * with each upsert: a scan must cover base AND tail relations to be
    * served from the combined index.
    */
  private final case class Lsh(tables: Int, bits: Int)
      extends Codec("lsh", "Lsh", "LSH") with PerRowCodec {
    override def point: Seq[(String, Long)] =
      Seq("tables" -> tables.toLong, "bits" -> bits.toLong)
    override def scanDir: String = "buckets"
    override def scanKey: String = "tb"
    def encode(index: DataFrame, base: String): DataFrame = {
      import graft.functions.expressions.VectorExpressions.lsh_buckets
      index.select(col("vec_id"),
        posexplode(lsh_buckets(col("embedding"), tables, bits))
          .as(Seq("tbl", "bucket")))
        .select(
          (col("tbl").cast("long") * (1L << bits) + col("bucket")).as("tb"),
          col("vec_id"))
    }
    override def strMeta(rows: DataFrame,
        prior: Map[String, String]): Seq[(String, String)] =
      Seq("source_paths" -> joinPaths(
        (prior.get("source_paths").map(splitPaths).getOrElse(Nil) ++
          relationPaths(rows)).distinct.sorted))
  }

  /** One codec layout over `sourceDir`: the flat form (the scan table
    * `sub` bucketed by `key`) or the IVF form (`lists` partitioned by
    * centroid_id, plus plain-parquet `centroids`). Both keep `vecs` —
    * the float vectors bucketed by vec_id for the exact re-rank,
    * fetched for the m winners per query only — unless the scan table
    * carries the vectors itself (`vecsInScan`: float IVF), plus
    * merge-on-read `tombs` and the codec's model dirs. Without `vecs`
    * nothing is bucketed: the meta records no `buckets` and the
    * tombstones are unbucketed. Names depend on the codec's stem alone,
    * never on its operating point.
    */
  private final class CodecLayout(spark: SparkSession, c: Codec,
      sourceDir: String, ivf: Boolean, val sub: String, val key: String,
      modelDirs: Seq[String], vecsInScan: Boolean) {
    /** The layout's name stem (`sq8`, `ivfpq`, …): its dirs, tables and
      * job descriptions start with it.
      */
    val stem = (if (ivf) "ivf" else "") + c.stem
    private val tag = IndexStore.pathTag(sourceDir)
    val verb = (if (ivf) "Ivf" else "") + c.verb
    val label = Seq(if (ivf) "IVF" else "", c.label).filter(_.nonEmpty)
      .mkString("-")
    val base = s"${annBase(spark)}/graft_ann_${stem}_$tag"
    val scan = s"graft_${stem}_${sub}_$tag"
    val vecs = if (vecsInScan) None else Some(s"graft_${stem}_vecs_$tag")
    /** The table of float vectors: the exact re-rank's and the fold's. */
    val floats = vecs.getOrElse(scan)
    val tombs = s"graft_${stem}_tombs_$tag"
    /** A tombstone's columns: an IVF one is co-keyed by its list when it
      * is stored bucketed next to `vecs`, so a probe prunes tombstones
      * with its lists; any other is a bare vec_id.
      */
    val tombKeys = (if (ivf && vecs.isDefined) Seq(key) else Nil) :+ "vec_id"
    val centroids = s"$base/centroids"
    private val tables = scan +: vecs.toSeq
    /** The dirs a servable layout holds readable parquet in. */
    val dataDirs = Seq(s"$base/$sub") ++ vecs.map(_ => s"$base/vecs") ++
      (if (ivf) Seq(centroids) else Nil) ++
      modelDirs.map(d => s"$base/$d")

    /** The stored storage bucketing (0 when none is recorded). */
    def buckets(meta: Map[String, Long]): Int =
      meta.getOrElse("buckets", 0L).toInt

    /** The tombstones' bucketing: vec_id, like `vecs`; none without. */
    def tombsBy(storageBuckets: Int): Option[(String, Int)] =
      vecs.map(_ => ("vec_id", storageBuckets))

    /** Built and naming its content ([[unnameContent]]). */
    def built(meta: Map[String, Long]): Boolean =
      meta.contains("checksum") && (!ivf || meta.contains("lists")) &&
        (vecs.isEmpty || meta.contains("buckets")) &&
        c.point.forall { case (k, _) => meta.contains(k) }

    def registered: Boolean = tables.forall(spark.catalog.tableExists)

    def requireReadable(before: String): Unit =
      require(dataDirs.forall(parquetReadable(spark, _)),
        s"persisted $label layout for '$sourceDir' is unreadable — run " +
          s"ensure$verb to rebuild$before")

    /** Attach the on-disk layout written by an earlier process: DDL
      * only. Tombs register only when the meta committed them.
      */
    def attach(storageBuckets: Int): Unit = {
      (tables :+ tombs).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      registerExternal(spark, scan, s"$base/$sub",
        clusteredBy = if (ivf) None else Some((key, storageBuckets)),
        partitionedBy = if (ivf) Some(key) else None)
      vecs.foreach(registerExternal(spark, _, s"$base/vecs",
        clusteredBy = Some(("vec_id", storageBuckets))))
      if (tombsServable(spark, base))
        registerExternal(spark, tombs, s"$base/tombs",
          tombsBy(storageBuckets))
    }

    /** Attach, or refresh the relation caches so another session's
      * appends become visible and align the tombs registration with the
      * store (tombstones may have (dis)appeared under another session's
      * delete or fold) — DDL only on a change.
      */
    def sync(meta: Map[String, Long]): Unit =
      if (!registered) attach(buckets(meta))
      else {
        tables.foreach(spark.catalog.refreshTable)
        syncTombs(spark, base, tombs, tombsBy(buckets(meta)))
      }

    /** The read-only open, WITHOUT a freshness probe — the reader's path
      * while a writer (e.g. a
      * [[graft.streaming.StreamOps.streamingSq8Upsert]] or
      * [[graft.streaming.StreamOps.streamingIvfSq8Upsert]] stream)
      * appends concurrently: no fingerprint scan, no rebuild decision,
      * just a catalog attach or a [[sync]].
      */
    def open(): Unit = {
      val meta = readMeta(base)
      require(built(meta),
        s"no persisted $label index for '$sourceDir' ($base)")
      requireReadable("")
      sync(meta)
    }
  }

  /** Land `df` in a catalog table bucketed and sorted on `key`, ONE
    * file per bucket: with `path` a build (Overwrite at that dir),
    * without one an append of one more file set. A bucketed write
    * splits each TASK's rows into per-bucket files, so writing a
    * many-task frame directly lands tasks × buckets files (and a
    * compaction that rewrote without reducing the file count); the
    * rows are first hash-partitioned on the key into exactly `buckets`
    * tasks, and a bucket id IS that hash partition.
    */
  private[sources] def writeBucketed(df: DataFrame, table: String,
      key: String, buckets: Int, path: Option[String] = None): Unit = {
    val w = df.repartition(buckets, col(key)).write
    path.fold(w.mode(SaveMode.Append))(p =>
        w.mode(SaveMode.Overwrite).option("path", p))
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
  }

  /** Land `df` in a catalog table partitioned by `centroid_id` (the
    * inverted lists), ONE file per list: with `path` a build
    * (Overwrite at that dir), without one an append. Without the
    * repartition every input task re-emits its rows into every list
    * dir it touches (tasks × lists files); hash-partitioning on the
    * list id first lands each list in exactly one task. The explicit
    * partition count keeps the lists spread over
    * `spark.sql.shuffle.partitions` writer tasks — the coalescible
    * `repartition(col)` form lets adaptive execution fold a small
    * layout into ONE serial writer task.
    */
  private[sources] def writeLists(df: DataFrame, table: String,
      path: Option[String] = None): Unit = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = df.repartition(n, col("centroid_id")).write
    path.fold(w.mode(SaveMode.Append))(p =>
        w.mode(SaveMode.Overwrite).option("path", p))
      .partitionBy("centroid_id")
      .format("parquet").saveAsTable(table)
  }

  /** Attach the tombstone table when the meta committed it but this
    * session's catalog lacks the registration (tombs written by another
    * session while the layout's other tables were already registered
    * here). No-op when already registered or nothing is committed.
    */
  private def registerCommittedTombs(spark: SparkSession,
      base: String, table: String,
      clusteredBy: Option[(String, Int)]): Unit =
    if (!spark.catalog.tableExists(table) && tombsServable(spark, base))
      registerExternal(spark, table, s"$base/tombs", clusteredBy)

  /** Append-only + tombstone contract of the upsert verbs: re-adding a
    * deleted id would be silently swallowed by the tombstone anti-join —
    * fail loudly; fold the tombstones first (`compact<verb>`) if
    * re-insertion is intended. The tombs may have been committed by
    * ANOTHER session while this one already held the layout's
    * registration, so the registration is re-derived first. The probe
    * is batch-sized (broadcast semi-join), not index-sized.
    */
  private def refuseTombstoned(spark: SparkSession, l: CodecLayout,
      meta: Map[String, Long], newVecs: DataFrame): Unit =
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      registerCommittedTombs(spark, l.base, l.tombs,
        l.tombsBy(l.buckets(meta)))
      val clash = spark.table(l.tombs)
        .join(newVecs.select("vec_id"), Seq("vec_id"), "left_semi").count()
      require(clash == 0L,
        s"upsert${l.verb}: $clash incoming vec_id(s) are tombstoned — " +
          s"run compact${l.verb} to fold deletions before re-inserting " +
          "those ids")
    }

  /** The delete verb of both lifecycles: validate and sync the layout,
    * skip a replayed `batchId`, then tombstone the batch's LIVE ids.
    * The id batch is delete-sized: it is collected once (an in-memory
    * id frame collects without a job) and pushed into `live` as an id
    * filter, which the vec_id bucketing and sort of a `vecs` table
    * prune. `live(filter)` gives the served rows passing it, one per
    * live vector, carrying the layout's tombstone columns; those rows
    * are collected, appended to the tombstones and committed. An absent
    * or already-deleted id matches no served row, so `tomb_rows` counts
    * exactly the rows deleted, and an id that was never indexed stays
    * insertable.
    */
  private def deleteLayout(spark: SparkSession, l: CodecLayout,
      sourceDir: String, ids: DataFrame, batchId: Option[Long])(
      live: Column => DataFrame): Unit = {
    val meta = readMeta(l.base)
    require(l.built(meta),
      s"delete${l.verb} needs an existing persisted ${l.label} index for " +
        s"'$sourceDir' — run ensure${l.verb} first")
    l.requireReadable(" before deleting")
    l.sync(meta)
    if (batchId.exists(id => meta.get("last_del_batch_id").exists(id <= _)))
      return
    val batch = ids.select("vec_id").collect().map(_.get(0)).distinct
    val rows = if (batch.isEmpty) Nil
      else live(col("vec_id").isin(batch.toIndexedSeq: _*))
        .select(l.tombKeys.map(col): _*).collect().toSeq
    if (rows.nonEmpty)
      writeTombs(spark, l.base, l.tombs,
        spark.createDataFrame(rows.asJava, rows.head.schema).coalesce(1),
        l.tombsBy(l.buckets(meta)))
    commitDelete(l.base, meta, rows.size, batchId)
  }

  /** Commit a delete of `nDel` ids: the tomb count grows, the delete
    * replay window advances, `snapshot_id` drops (the layout moved past
    * it); every other key is carried.
    */
  private def commitDelete(base: String, meta: Map[String, Long],
      nDel: Long, batchId: Option[Long]): Unit =
    writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      (readMetaStrs(base) - "snapshot_id").toSeq)

  /** Commit a tombstone fold: the live fingerprint is recomputed from
    * the folded float vectors (upsert checksum composition stays
    * coherent),
    * `tomb_rows` resets, and every other key is carried — replay
    * windows, and `n_base`: the centroids were trained on the original
    * base, so shrinking it would only tighten the drift gate spuriously.
    */
  private def commitFold(base: String, meta: Map[String, Long],
      vecs: DataFrame): Unit = {
    val (n, fp) = fingerprint(vecs.select("vec_id", "embedding"))
    writeMetaFull(base,
      (meta - "n_rows" - "checksum" - "tomb_rows").toSeq ++
        Seq("n_rows" -> n, "checksum" -> fp),
      (readMetaStrs(base) - "snapshot_id").toSeq)
  }

  // ---------------------------------------- flat LSH / SQ8 / BQ lifecycle

  /** Persisted flat quantized index (SQ8 or BQ): `codes` is the scan
    * table of codec rows, `vecs` the float vectors co-bucketed by vec_id
    * for the exact re-rank.
    */
  final case class CodesHandle(codes: DataFrame, vecs: DataFrame)

  private def flatLayout(c: FlatCodec, spark: SparkSession,
      sourceDir: String) =
    new CodecLayout(spark, c, sourceDir, ivf = false, c.scanDir, c.scanKey,
      c.modelDirs, vecsInScan = false)

  private def flatPoint(c: FlatCodec,
      storageBuckets: Int): Seq[(String, Long)] =
    c.point :+ ("buckets" -> storageBuckets.toLong)

  /** The served (scan, floats) view of both lifecycles: when a
    * tombstone table exists, BOTH sides carry the anti-join against it
    * (the scan side is what excludes deleted ids from candidates; the
    * floats side keeps any direct consumer of the float vectors honest
    * too). Tombs keyed like the scan table join it directly — on the
    * shared vec_id bucketing shuffle-free on the index side, on an IVF
    * list pruned with the probed lists; any other scan (LSH's `tb`,
    * float IVF's lists against vec_id-only tombs) rides a broadcast of
    * the deletion-bounded tombstone set.
    */
  private def served(spark: SparkSession,
      l: CodecLayout): (DataFrame, DataFrame) = {
    val scan = spark.table(l.scan)
    val floats = l.vecs.map(spark.table)
    if (spark.catalog.tableExists(l.tombs)) {
      val tombs = spark.table(l.tombs)
      val scanTombs = if (l.tombKeys.contains(l.key)) tombs
        else broadcast(tombs)
      val live = scan.join(scanTombs, l.tombKeys, "left_anti")
      (live, floats.fold(live)(_.join(tombs, Seq("vec_id"), "left_anti")))
    } else (scan, floats.getOrElse(scan))
  }

  private def flatHandle(spark: SparkSession, l: CodecLayout): CodesHandle = {
    val (codes, vecs) = served(spark, l)
    CodesHandle(codes, vecs)
  }

  /** The reuse probe of the `ensure*` verbs of both lifecycles: the
    * stored meta is at `point` with no committed tombstones (a
    * tombstoned layout no longer equals its source) and names either
    * the caller's snapshot id (`Left` — O(1), no content scan) or the
    * content fingerprint (`Right(n, fp)`); and the layout is
    * [[servable]], so an unreadable one reads as STALE and rebuilds.
    */
  private def layoutFresh(spark: SparkSession, l: CodecLayout,
      point: Seq[(String, Long)], storageBuckets: Int,
      stored: Either[String, (Long, Long)]): Boolean = {
    val meta = readMeta(l.base)
    (stored match {
      case Left(id) => readMetaStrs(l.base).get("snapshot_id").contains(id)
      case Right((n, fp)) =>
        meta.get("n_rows").contains(n) && meta.get("checksum").contains(fp)
    }) && atPoint(meta, point) && meta.get("tomb_rows").forall(_ == 0L) &&
      servable(spark, l.dataDirs, l.registered, () => l.attach(storageBuckets))
  }

  /** Commit a built layout's meta: `num` (its point and content), then
    * both replay-skip windows, which survive a rebuild — one between a
    * streaming crash and its replay must not reopen them (a rebuild's
    * source includes every batch already applied). `tomb_rows` does NOT
    * survive.
    */
  private def commitBuilt(base: String, num: Seq[(String, Long)],
      strs: Seq[(String, String)], snapshotId: Option[String]): Unit = {
    val old = readMeta(base)
    writeMetaFull(base,
      num ++ old.get("last_batch_id").map("last_batch_id" -> _).toSeq ++
        old.get("last_del_batch_id").map("last_del_batch_id" -> _).toSeq,
      strs ++ snapshotId.map("snapshot_id" -> _).toSeq)
  }

  /** Full (re)build: clear the tombstones (a rebuild serves exactly
    * its source), then overwrite both tables concurrently — the scan
    * table trains any model and encodes with the just-persisted one —
    * and commit the meta.
    */
  private def buildFlat(c: FlatCodec, spark: SparkSession, l: CodecLayout,
      index: DataFrame, storageBuckets: Int, n: Long, fp: Long,
      snapshotId: Option[String]): Unit = {
    val rows = index.select("vec_id", "embedding")
    dropTombs(spark, l.base, l.tombs)
    Passes.run(spark, s"${l.stem}.build")(
      pass(l.sub) {
        c.train(rows, l.base)
        spark.sql(s"DROP TABLE IF EXISTS ${l.scan}")
        writeBucketed(c.encode(rows, l.base), l.scan, l.key, storageBuckets,
          Some(s"${l.base}/${l.sub}"))
      },
      pass("vecs") {
        spark.sql(s"DROP TABLE IF EXISTS ${l.floats}")
        writeBucketed(rows, l.floats, "vec_id", storageBuckets,
          Some(s"${l.base}/vecs"))
      })
    commitBuilt(l.base, flatPoint(c, storageBuckets) ++
      Seq("n_rows" -> n, "checksum" -> fp), c.strMeta(index, Map.empty),
      snapshotId)
  }

  /** Build (or reuse) the persisted flat layout over `index(vec_id,
    * embedding)`: encoding is one per-row projection pass; both tables
    * land bucketed through the catalog (the vec_id-keyed ones
    * co-located, so the re-rank id-join against `vecs` is shuffle-free
    * on the index side). Freshness: O(1) snapshot-id trust when the
    * caller names an immutable source snapshot, else the content
    * fingerprint ([[layoutFresh]]); meta committed atomically after the
    * data. [[upsertFlat]] and [[deleteFlat]] drop a stored snapshot id
    * (the layout moves past the snapshot that id named).
    */
  private def ensureFlat(c: FlatCodec, spark: SparkSession,
      sourceDir: String, index: DataFrame, storageBuckets: Int,
      snapshotId: Option[String]): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    ensureLayout(spark, l, flatPoint(c, storageBuckets), storageBuckets,
      index, snapshotId)(
      buildFlat(c, spark, l, index, storageBuckets, _, _, snapshotId))
    flatHandle(spark, l)
  }

  /** The build-or-reuse of both lifecycles at `point`: reused when
    * [[layoutFresh]] by the caller's snapshot id, else by the content
    * fingerprint — an unreadable layout under a fresh snapshot id
    * falls through to the fingerprint path, which rebuilds — and
    * otherwise laid out by the lifecycle's `build` at the fingerprint.
    */
  private def ensureLayout(spark: SparkSession, l: CodecLayout,
      point: Seq[(String, Long)], storageBuckets: Int, index: DataFrame,
      snapshotId: Option[String])(build: (Long, Long) => Unit): Unit =
    if (!snapshotId.exists(id =>
        layoutFresh(spark, l, point, storageBuckets, Left(id)))) {
      val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
      val meta = readMeta(l.base)
      if (!layoutFresh(spark, l, point, storageBuckets, Right((n, fp)))) {
        unnameContent(l.base)
        build(n, fp)
      } else if (snapshotId.isDefined)
        // content unchanged under a new snapshot name: record the id so
        // the NEXT ensure at this snapshot skips the scan entirely
        commitBuilt(l.base, point ++ Seq("n_rows" -> n, "checksum" -> fp) ++
          meta.get("n_base").map("n_base" -> _),
          (readMetaStrs(l.base) - "snapshot_id").toSeq, snapshotId)
    }

  /** Build-or-reuse for a base + upserted-tail layout of either
    * lifecycle: when the stored meta already equals base ⊕ tail the
    * layout is reused (or attached) without touching data; otherwise
    * the lifecycle's `build` step lays out the base at its fingerprint
    * and its `upsert` step appends the tail, handed the tail's
    * fingerprint so it is not taken twice — repeated runs over
    * immutable fixtures pay DDL, not rebuild + re-append (which would
    * also double the tail).
    */
  private def ensureUpserted(spark: SparkSession, l: CodecLayout,
      point: Seq[(String, Long)], storageBuckets: Int, baseRows: DataFrame,
      tailRows: DataFrame)(build: (Long, Long) => Unit,
      upsert: ((Long, Long)) => Unit): Unit = {
    val (nb, fb) = fingerprint(baseRows.select("vec_id", "embedding"))
    val (nt, ft) = fingerprint(tailRows.select("vec_id", "embedding"))
    if (!layoutFresh(spark, l, point, storageBuckets,
        Right((nb + nt, fb ^ ft)))) {
      unnameContent(l.base)
      build(nb, fb)
      upsert((nt, ft))
    }
  }

  /** Before a rebuild replaces any dir of the layout at `base`, commit
    * a meta that names no content (`n_rows`, `checksum`, `snapshot_id`
    * drop; the point, `tomb_rows` and replay windows stay): an
    * interrupted rebuild is then stale to `ensure*` and unbuilt to the
    * other verbs, never the old meta over new dirs. No meta, no write.
    */
  private def unnameContent(base: String): Unit =
    if (Files.exists(metaPath(base)))
      writeMetaFull(base, (readMeta(base) - "n_rows" - "checksum").toSeq,
        (readMetaStrs(base) - "snapshot_id").toSeq)

  /** Incremental add into an existing persisted flat index: the codec
    * is per-row, so an upsert is EXACTLY a rebuild restricted to the new
    * rows — encode the new vectors, append to both tables at once, xor-compose
    * the checksum: O(new) per batch, upsert ≡ rebuild row-identically
    * by construction. Append-only contract (a tombstoned id is refused,
    * see [[refuseTombstoned]]) and `batchId` replay-skip as in
    * [[upsertLsh]]; a stored snapshot id is dropped. `known`: the new
    * rows' fingerprint when the caller already took it.
    */
  private def upsertFlat(c: PerRowCodec, spark: SparkSession,
      sourceDir: String, newVecs: DataFrame, storageBuckets: Int,
      batchId: Option[Long],
      known: Option[(Long, Long)] = None): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    val point = flatPoint(c, storageBuckets)
    upsertLayout(spark, l, sourceDir, Some(point), _ => point, newVecs,
      batchId, known, c.strMeta(newVecs, readMetaStrs(l.base))) { (_, _) =>
      val rows = newVecs.select("vec_id", "embedding")
      Passes.run(spark, s"${l.stem}.upsert")(
        pass(l.sub)(writeBucketed(c.encode(rows, l.base), l.scan, l.key,
          storageBuckets)),
        pass("vecs")(writeBucketed(rows, l.floats, "vec_id", storageBuckets)))
      Nil
    }
    flatHandle(spark, l)
  }

  /** The upsert verb of both lifecycles: the stored meta must be at
    * `expected` (else merely built); an unreadable layout is refused —
    * appending into a gutted one would recreate the dir holding only
    * this batch under a checksum that claims the full corpus; a
    * replayed `batchId` is skipped and tombstoned ids refused. Then
    * `append` lays out the new rows given the stored meta and their
    * count and returns the meta keys it adds, and the meta commits the
    * stored meta's `point` with the checksum xor-composed (`known`: the
    * new rows' fingerprint when the caller already took it) and the
    * string meta `strs`.
    */
  private def upsertLayout(spark: SparkSession, l: CodecLayout,
      sourceDir: String, expected: Option[Seq[(String, Long)]],
      point: Map[String, Long] => Seq[(String, Long)], newVecs: DataFrame,
      batchId: Option[Long], known: Option[(Long, Long)],
      strs: => Seq[(String, String)])(
      append: (Map[String, Long], Long) => Seq[(String, Long)]): Unit = {
    val meta = readMeta(l.base)
    expected.foreach(at =>
      require(atPoint(meta, at),
        s"upsert${l.verb} needs an existing index at the same operating " +
          s"point (${at.map { case (k, v) => s"$k=$v" }.mkString(" ")})" +
          s"; found $meta"))
    require(l.built(meta),
      s"upsert${l.verb} needs an existing persisted ${l.label} index " +
        s"for '$sourceDir' — run ensure${l.verb} first")
    l.requireReadable(" before upserting")
    if (!l.registered) l.attach(l.buckets(meta))
    if (batchId.exists(id => meta.get("last_batch_id").exists(id <= _)))
      return
    refuseTombstoned(spark, l, meta, newVecs)
    val (nNew, fpNew) = known.getOrElse(
      fingerprint(newVecs.select("vec_id", "embedding")))
    val added = append(meta, nNew)
    writeMetaFull(l.base,
      point(meta) ++ Seq("n_rows" -> (meta("n_rows") + nNew),
        "checksum" -> (meta("checksum") ^ fpNew)) ++ added ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        meta.get("last_del_batch_id").map("last_del_batch_id" -> _).toSeq,
      strs)
  }

  /** Delete by id from the persisted flat index — the vector-store
    * lifecycle verb the reference's stack exposes as Pinecone's
    * `delete(ids=...)` (public API). Merge-on-read tombstones, the only
    * delete that scales: the batch of ids is APPENDED to a tombstone
    * table bucketed by vec_id like `vecs` (O(batch) work, no index
    * rewrite, see [[writeTombs]]), and every served handle anti-joins
    * it ([[flatHandle]]). [[compactFlat]] later folds tombstones into
    * the base (physically removes the rows and resets the live
    * fingerprint); until then re-inserting a deleted id fails loudly in
    * [[upsertFlat]].
    *
    * Ids absent from the index (or already deleted) are not
    * tombstoned and leave `tomb_rows` unchanged ([[deleteLayout]]);
    * an absent id stays insertable. A delete moves the
    * layout past any named snapshot (stored `snapshot_id` is dropped;
    * the codec's other meta is carried) and past the source content
    * (`ensure*` over the original source rebuilds — "serve exactly this
    * source" clears deletions by contract). `batchId` gives streaming
    * delete feeds the same replay-skip contract as [[upsertFlat]], on
    * its own counter (`last_del_batch_id`) so interleaved
    * upsert/delete streams don't mask each other.
    */
  private def deleteFlat(c: FlatCodec, spark: SparkSession,
      sourceDir: String, ids: DataFrame,
      batchId: Option[Long]): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    deleteLayout(spark, l, sourceDir, ids, batchId)(
      flatHandle(spark, l).vecs.filter(_))
    flatHandle(spark, l)
  }

  /** True iff a persisted flat layout exists for `sourceDir` — at the
    * meta entries `at` (meta check only — no readability or freshness
    * probe). Lets callers branch build-vs-open explicitly instead of
    * catching the open verb's deliberately fail-loud errors, which must
    * keep distinguishing "never built" from "unreadable crashed layout".
    */
  private def existsFlat(c: FlatCodec, spark: SparkSession,
      sourceDir: String, at: Seq[(String, Long)] = Nil): Boolean = {
    val l = flatLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    l.built(meta) && atPoint(meta, at)
  }

  private def openFlat(c: FlatCodec, spark: SparkSession,
      sourceDir: String): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    l.open()
    flatHandle(spark, l)
  }

  /** Compact the persisted flat layout: upserts and streamed
    * micro-batches append one file set per batch into each bucketed
    * table, and after thousands of triggers file count — not row count —
    * is what erodes scan planning (the codes scan's whole point is
    * bandwidth; a small-files layout gives that back in open/seek
    * overhead). Rewrites both tables' rows at the same (bucketing,
    * sort) spec; without tombstones the meta (n_rows, checksum,
    * last_batch_id) is untouched, so every freshness and replay contract
    * keeps holding.
    *
    * Tombstone FOLD: physically drops deleted rows while rewriting,
    * then commits the folded layout ([[commitFold]]).
    *
    * Crash safety (the [[KeywordIndex.compactPostings]] discipline):
    * each compacted copy lands in a SIDE directory and swaps in by
    * rename. A crash between the two tables' swaps leaves a
    * mixed but logically identical layout (the still-present tombstone
    * anti-join keeps serving correctly); a crash inside one rename
    * window leaves that dir missing — open and upsert fail loudly, and
    * ensure's `servable` probe reads the unreadable layout as STALE and
    * rebuilds (the recovery path); after the tomb removal but before
    * the meta rewrite the data is fully folded and the stale meta
    * (tomb_rows > 0) makes the next ensure rebuild. Every window is
    * correct-serving or rebuild-triggering; leftover side/old dirs are
    * swept by the next compaction. Not safe concurrent with a writer —
    * run between ingest windows.
    */
  private def compactFlat(c: FlatCodec, spark: SparkSession,
      sourceDir: String): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    compactLayout(spark, l)((scan, sb) =>
      compactBucketed(spark, l.base, l.scan, l.sub, l.key, sb, Some(scan)))
    flatHandle(spark, l)
  }

  /** The compaction of both lifecycles: `rewriteScan` rewrites the scan
    * table from its served rows at the stored bucketing while `vecs` is
    * rewritten likewise — so any tombstones fold — and swapped in, the
    * two concurrently under one bucketed-scan pin; a fold then drops
    * the tombstones and commits ([[commitFold]]).
    */
  private def compactLayout(spark: SparkSession, l: CodecLayout)(
      rewriteScan: (DataFrame, Int) => Unit): Unit = {
    l.open() // validates meta + attaches + refreshes
    val meta = readMeta(l.base)
    val sb = l.buckets(meta)
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(l.tombs)
    val (scan, floats) = served(spark, l)
    withBucketedScanPinned(spark)(Passes.run(spark, s"${l.stem}.compact")(
      pass(l.sub)(rewriteScan(scan, sb)) +: l.vecs.toSeq.map(v =>
        pass("vecs")(compactBucketed(spark, l.base, v, "vecs", "vec_id", sb,
          Some(floats)))): _*))
    if (folding) dropTombs(spark, l.base, l.tombs)
    l.attach(sb)
    if (folding) commitFold(l.base, meta, spark.table(l.floats))
  }

  // ---------------------------------------------------------------- SQ8

  /** The persisted SQ8 layout: the flat lifecycle ([[ensureFlat]],
    * [[upsertFlat]], [[deleteFlat]], [[existsFlat]], [[openFlat]],
    * [[compactFlat]]) with the [[Sq8]] codec.
    */
  def ensureSq8(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): CodesHandle =
    ensureFlat(Sq8, spark, sourceDir, index, storageBuckets, snapshotId)

  def upsertSq8(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): CodesHandle =
    upsertFlat(Sq8, spark, sourceDir, newVecs, storageBuckets, batchId)

  def deleteSq8(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): CodesHandle =
    deleteFlat(Sq8, spark, sourceDir, ids, batchId)

  def sq8Exists(spark: SparkSession, sourceDir: String): Boolean =
    existsFlat(Sq8, spark, sourceDir)

  def openSq8(spark: SparkSession, sourceDir: String): CodesHandle =
    openFlat(Sq8, spark, sourceDir)

  def compactSq8(spark: SparkSession, sourceDir: String): CodesHandle =
    compactFlat(Sq8, spark, sourceDir)

  // ----------------------------------------------------------------- PQ
  // the flat lifecycle at the trained [[Pq]] codec, with no upsert,
  // delete or compact verb: the model IS the storage format

  /** Persisted product-quantized layout (q115's serving form, q120):
    * `codebook` is the trained model artifact (numSub · ksub rows —
    * tiny), `codes` the numSub-bytes-per-vector encodings bucketed by
    * vec_id, `vecs` the float vectors co-bucketed for the exact
    * re-rank. The whole point of PQ is train-once/query-many: the
    * training cost (Lloyd rounds over the exploded subvector relation)
    * is paid at build, and every query is table-lookup scans over the
    * 16×-compressed codes.
    */
  final case class PqHandle(codebook: DataFrame, codes: DataFrame,
      vecs: DataFrame, numSub: Int, ksub: Int)

  /** The stored point of the flat layout `c` names (by stem alone). */
  private def storedFlatPq(spark: SparkSession, sourceDir: String,
      c: FlatCodec): Pq =
    storedPq(readMeta(flatLayout(c, spark, sourceDir).base), "iters")

  /** `verb`'s flat handle at `c`, with the stored codebook. */
  private def servedPq(spark: SparkSession, sourceDir: String, c: Pq)(
      verb: Pq => CodesHandle): PqHandle = {
    val h = verb(c)
    PqHandle(ParquetIO.read(spark,
        s"${flatLayout(c, spark, sourceDir).base}/codebook"),
      h.codes, h.vecs, c.numSub, c.ksub)
  }

  /** Build (or reuse) the persisted PQ layout: train per-subspace
    * codebooks ([[SimilaritySearch.pqCodebooks]]), encode every vector
    * to `numSub` bytes with the trained model read back (per-row native
    * projection), land codes and float vectors co-bucketed by vec_id.
    * Freshness follows the `ensureSq8` discipline (O(1) snapshot-id
    * trust / content fingerprint / `servable` recovery; meta committed
    * after data). There is deliberately NO upsertPq: codes are only
    * meaningful under the codebook that trained on the indexed
    * distribution — growing the index re-trains (the IVF drift-gate
    * rationale, applied strictly, since here the model IS the storage
    * format).
    */
  def ensurePq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      numSub: Int = 16,
      ksub: Int = 64,
      iters: Int = 2,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): PqHandle =
    servedPq(spark, sourceDir, Pq(numSub, ksub, iters, "iters"))(
      ensureFlat(_, spark, sourceDir, index, storageBuckets, snapshotId))

  /** Open an existing persisted PQ index read-only (no freshness probe
    * — the `openSq8` contract). */
  def openPq(spark: SparkSession, sourceDir: String): PqHandle =
    servedPq(spark, sourceDir, storedFlatPq(spark, sourceDir, Pq(0, 0, 0)))(
      openFlat(_, spark, sourceDir))

  /** The ADC candidate stage of [[queryPq]] and [[queryOpq]]: the `m`
    * best (query_id, vec_id) per query by lookup-sums over the codes.
    */
  private def adcCandidates(queries: DataFrame, codebook: DataFrame,
      codes: DataFrame, numSub: Int, ksub: Int, m: Int): DataFrame = {
    import graft.functions.expressions.PqExpressions.{pq_adc_dot, pq_table}
    import graft.functions.expressions.TopKAgg.top_k
    val flat = SimilaritySearch.collectCodebook(codebook, numSub, ksub)
    val qt = broadcast(queries.select(col("query_id"),
      pq_table(col("query_vec"), flat, numSub, ksub).as("adc"),
      graft.functions.VectorOps.l2Norm(col("query_vec")).as("qqnorm")))
    codes.crossJoin(qt)
      .withColumn("ascore",
        when(col("pnorm") * col("qqnorm") === 0.0, lit(0.0))
          .otherwise(pq_adc_dot(col("pqcodes"), col("adc"))
            / (col("pnorm") * col("qqnorm"))))
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("vec_id"), m).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("vec_id"))
  }

  /** Query the persisted PQ index: the stored codebook (numSub · ksub
    * rows — a model-parameter collect) becomes the per-query ADC table
    * on the broadcast side; the scan reads ONLY the stored codes
    * (numSub bytes/vector — 16× under float at the shipped layout) and
    * does lookup-sums; exact float re-rank of the m winners against the
    * co-bucketed vecs table. Output-identical to the exact kNN at the
    * certified (numSub, ksub, m) point (q120 pins it — the q105
    * discipline).
    */
  def queryPq(
      queries: DataFrame,
      handle: PqHandle,
      k: Int = 4,
      m: Int = 64): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(adcCandidates(queries, handle.codebook,
      handle.codes, handle.numSub, handle.ksub, m), queries, handle.vecs, k)
  }

  // ---------------------------------------------------------------- OPQ

  /** Persisted OPQ — rotate-then-PQ, the faiss `OPQx,PQy` production
    * layout (Ge et al. CVPR '13; faiss `OPQMatrix` pre-transform,
    * public): the energy-compacting rotation
    * ([[graft.operators.SimilaritySearch.rotationModel]], q164/q165)
    * is STORED with the codebooks and applied to queries at serve
    * time, so PQ's per-subspace quantizers see axis-aligned energy
    * instead of whatever basis the embedder shipped. `rotation` holds
    * the d×d model (d rows — a model artifact, never corpus-sized);
    * `codebook`/`codes` are PQ over the ROTATED vectors; `vecs` keeps
    * the ORIGINAL floats for the exact re-rank (the rotation is an
    * isometry, so original-space cosines are the same answer).
    * Freshness follows the ensurePq discipline; like PQ there is NO
    * upsert — the rotation and codebooks ARE the storage format, so
    * growing the index re-trains.
    */
  final case class OpqHandle(rotation: DataFrame, codebook: DataFrame,
      codes: DataFrame, vecs: DataFrame, numSub: Int, ksub: Int)

  /** `verb`'s flat handle at `c`, with the stored rotation and codebook. */
  private def servedOpq(spark: SparkSession, sourceDir: String, c: Opq)(
      verb: Opq => CodesHandle): OpqHandle = {
    val h = verb(c)
    val base = flatLayout(c, spark, sourceDir).base
    OpqHandle(ParquetIO.read(spark, s"$base/rotation"),
      ParquetIO.read(spark, s"$base/codebook"), h.codes, h.vecs,
      c.pq.numSub, c.pq.ksub)
  }

  /** The stored rotation as a [[SimilaritySearch.RotationModel]] —
    * d rows collected (bounded model artifact, the collectCodebook
    * discipline).
    */
  def loadRotation(rotation: DataFrame)
      : graft.operators.SimilaritySearch.RotationModel = {
    val rows = rotation.select("row_idx", "vals", "eig")
      .collect().sortBy(_.getInt(0))
    val d = rows.length
    require(d > 0, "OPQ rotation table is empty")
    val rot = new Array[Double](d * d)
    rows.foreach { r =>
      val vals = r.getSeq[Double](1)
      System.arraycopy(vals.toArray, 0, rot, r.getInt(0) * d, d)
    }
    graft.operators.SimilaritySearch.RotationModel(rot,
      rows.map(_.getDouble(2)), d)
  }

  /** Fit OPQ's rotation on `index` (ONE second-moment pass + driver
    * Jacobi) and write it to `dir`, one file, its rows permuted by
    * parametric-OPQ eigenvalue allocation so per-subspace variance
    * balances — a bare PCA rotation CONCENTRATES energy into subspace
    * 0 and makes PQ worse (Ge et al. §4; AnnTune `opq` measures both).
    */
  private def writeRotation(index: DataFrame, numSub: Int,
      dir: String): Unit = {
    import index.sparkSession.implicits._
    val model = SimilaritySearch.rotationModel(index)
    val d = model.dim
    val order = SimilaritySearch.balancedOrder(model.eigvals, numSub)
    (0 until d).map { r =>
      val src = order(r)
      (r, model.rot.slice(src * d, (src + 1) * d).toSeq, model.eigvals(src))
    }.toDF("row_idx", "vals", "eig")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** `df` with `vecCol` rotated by the stored `rotation`, as floats. */
  private def rotated(df: DataFrame, rotation: DataFrame,
      vecCol: String = "embedding"): DataFrame =
    SimilaritySearch.rotate(df, loadRotation(rotation), vecCol)
      .withColumn(vecCol, col(vecCol).cast("array<float>"))

  /** Build (or reuse) the persisted OPQ layout: fit the rotation,
    * persist it FIRST, then train and encode PQ over vectors rotated by
    * the JUST-PERSISTED model (the ensurePq crash-consistency rule:
    * codes and stored model can never diverge). Codes carry the rotated
    * norm; `vecs` stores the original floats.
    */
  def ensureOpq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      numSub: Int = 16,
      ksub: Int = 64,
      iters: Int = 2,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): OpqHandle =
    servedOpq(spark, sourceDir, Opq(Pq(numSub, ksub, iters, "iters")))(
      ensureFlat(_, spark, sourceDir, index, storageBuckets, snapshotId))

  /** True iff a persisted OPQ layout exists at the operating point
    * (meta check only — the ivfExists contract).
    */
  def opqExists(spark: SparkSession, sourceDir: String,
      numSub: Int = 16, ksub: Int = 64): Boolean =
    existsFlat(Opq(Pq(numSub, ksub, 0, "iters")), spark, sourceDir,
      Seq("num_sub" -> numSub.toLong, "ksub" -> ksub.toLong))

  /** Open an existing persisted OPQ index read-only (no freshness
    * probe — the openSq8 contract).
    */
  def openOpq(spark: SparkSession, sourceDir: String): OpqHandle =
    servedOpq(spark, sourceDir,
      Opq(storedFlatPq(spark, sourceDir, Opq(Pq(0, 0, 0)))))(
      openFlat(_, spark, sourceDir))

  /** Query the persisted OPQ index: queries rotate through the STORED
    * model (per-row mat-vec, model as literal — the serve-time half of
    * the OPQ contract), the rotated queries build the ADC tables
    * against the stored codebook, the scan reads numSub bytes/vector,
    * and the m winners re-rank EXACTLY against the original floats
    * with the original queries (isometry: same cosines, same answer).
    */
  def queryOpq(
      queries: DataFrame,
      handle: OpqHandle,
      k: Int = 4,
      m: Int = 64): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(adcCandidates(
      rotated(queries, handle.rotation, "query_vec"), handle.codebook,
      handle.codes, handle.numSub, handle.ksub, m), queries, handle.vecs, k)
  }

  /** Persisted OPQ∘IVF-PQ — the full faiss production factory string
    * (`OPQ16,IVF64,PQ16`, public): the stored balanced rotation in
    * front of the composed [[ensureIvfPq]] layout. The inner layout is
    * the REAL IVF-PQ store built over the rotated vectors under a
    * derived key, so its whole lifecycle composes for free —
    * [[deleteIvfPq]]/[[compactIvfPq]] against the inner key tombstone
    * and fold the composed index, DPP list pruning and the ADC scan
    * are unchanged. Freshness is fingerprinted on the ORIGINAL index
    * at this base; the inner store's own fingerprint covers the
    * rotated frame.
    */
  final case class OpqIvfPqHandle(rotation: DataFrame,
      inner: IvfPqHandle, innerKey: String)

  private def opqIvfPqBase(spark: SparkSession, sourceDir: String) =
    s"${annBase(spark)}/graft_ann_opqivfpq_${IndexStore.pathTag(sourceDir)}"

  /** The derived key the inner rotated IVF-PQ layout lives under. */
  def opqIvfPqInnerKey(sourceDir: String): String = s"$sourceDir#opqrot"

  def ensureOpqIvfPq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      numSub: Int = 16,
      ksub: Int = 64,
      pqIters: Int = 2,
      storageBuckets: Int = 8): OpqIvfPqHandle = {
    val base = opqIvfPqBase(spark, sourceDir)
    val innerKey = opqIvfPqInnerKey(sourceDir)
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val meta = readMeta(base)
    val fresh = meta.get("num_sub").contains(numSub.toLong) &&
      meta.get("lists").contains(lists.toLong) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) &&
      parquetReadable(spark, s"$base/rotation") &&
      ivfPqExists(spark, innerKey, lists = lists, iters = iters,
        numSub = numSub, ksub = ksub, pqIters = pqIters,
        storageBuckets = storageBuckets) &&
      // a tombstoned inner layout no longer equals ANY fingerprintable
      // corpus (the ensureSq8 tombFree discipline, applied through the
      // composition): deletes driven at the inner key directly — the
      // pre-[[deleteOpqIvfPq]] path — never touched the outer
      // checksum, so without this probe an ensure over the pre-delete
      // corpus would reuse a layout serving survivors only
      ivfPqMeta(spark, innerKey).get("tomb_rows").forall(_ == 0L)
    if (!fresh) {
      // un-name the outer (its checksum, as upsertOpqIvfPq does) and
      // inner content before the rotation is replaced
      if (meta.nonEmpty) writeMetaFull(base, (meta - "checksum").toSeq, Nil)
      unnameContent(ivfLayout(Pq(0, 0, 0), spark, innerKey).base)
      val rows = index.select("vec_id", "embedding")
      writeRotation(rows, numSub, s"$base/rotation")
      val rot = rotated(rows, ParquetIO.read(spark, s"$base/rotation"))
        .localCheckpoint(true)
      ensureIvfPq(spark, innerKey, rot, lists = lists,
        iters = iters, numSub = numSub, ksub = ksub, pqIters = pqIters,
        storageBuckets = storageBuckets)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "num_sub" -> numSub.toLong,
          "ksub" -> ksub.toLong, "n_rows" -> n, "checksum" -> fp), Nil)
    }
    openOpqIvfPq(spark, sourceDir)
  }

  /** Open without a freshness probe (the openSq8 contract). */
  def openOpqIvfPq(spark: SparkSession,
      sourceDir: String): OpqIvfPqHandle = {
    val base = opqIvfPqBase(spark, sourceDir)
    require(readMeta(base).contains("num_sub") &&
      parquetReadable(spark, s"$base/rotation"),
      s"no persisted OPQ-IVF-PQ index for '$sourceDir' ($base)")
    OpqIvfPqHandle(ParquetIO.read(spark, s"$base/rotation"),
      openIvfPq(spark, opqIvfPqInnerKey(sourceDir)),
      opqIvfPqInnerKey(sourceDir))
  }

  def opqIvfPqExists(spark: SparkSession, sourceDir: String,
      lists: Int = 64, numSub: Int = 16, ksub: Int = 64,
      iters: Int = 5, pqIters: Int = 2,
      storageBuckets: Int = 8): Boolean = {
    val meta = readMeta(opqIvfPqBase(spark, sourceDir))
    meta.get("lists").contains(lists.toLong) &&
      meta.get("num_sub").contains(numSub.toLong) &&
      meta.get("ksub").contains(ksub.toLong) &&
      // every inner build param forwards — an exists probe that pins
      // fewer params than the ensure it guards reads false forever on
      // a non-default layout and turns the guard into a retrain-every-
      // run (the q251 replay defect this signature extension fixes)
      ivfPqExists(spark, opqIvfPqInnerKey(sourceDir), lists = lists,
        iters = iters, numSub = numSub, ksub = ksub,
        pqIters = pqIters, storageBuckets = storageBuckets)
  }

  /** Serve through the composed layout: rotate the queries through the
    * stored model, then the inner [[queryIvfPq]] does everything else
    * (DPP-pruned probed lists, numSub-byte ADC scan, exact re-rank
    * against the rotated floats — isometry makes the scores the
    * original-space cosines).
    */
  def queryOpqIvfPq(
      queries: DataFrame,
      handle: OpqIvfPqHandle,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 64): DataFrame =
    queryIvfPq(rotated(queries, handle.rotation, "query_vec"), handle.inner,
      k, nProbe, m)

  /** Incremental add through the COMPOSED layout (round-15 — it was
    * the one accumulating family without an outer upsert verb, so
    * streamed growth had to hand-compose the rotation): the batch
    * rides the STORED rotation (the isometry is trained once at build
    * time — OPQ's train/add contract, same as the stored centroids
    * and codebook it feeds), then the inner [[upsertIvfPq]] does
    * assignment + PQ-encode + append under its own drift gate,
    * tombstone clash guard, and `batchId` replay-skip. The outer
    * meta's (n_rows, checksum) compose with the ORIGINAL-space batch
    * fingerprint, so a later [[ensureOpqIvfPq]] over the grown corpus
    * recognizes the layout as fresh. Crash ordering: the outer
    * checksum is INVALIDATED before the inner append (the
    * [[KeywordIndex]] stats discipline) — without it, a crash between
    * the inner commit and the outer meta commit would leave the outer
    * fingerprint still matching the PRE-upsert corpus while the inner
    * store already holds the batch, and the next ensure over that
    * original corpus would silently reuse a layout serving vec_ids
    * the claimed source does not contain. With the invalidation,
    * every crash point inside the upsert leaves a checksum-less outer
    * meta, which no ensure can match — the recovery is a redundant
    * retrain, never a wrong answer. A retry whose inner batch already
    * committed replay-skips and deliberately does NOT restore the
    * checksum: only a fully successful upsert re-certifies the layout.
    */
  def upsertOpqIvfPq(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      batchId: Option[Long] = None): OpqIvfPqHandle = {
    val base = opqIvfPqBase(spark, sourceDir)
    val meta = readMeta(base)
    require(meta.contains("num_sub") &&
      parquetReadable(spark, s"$base/rotation"),
      s"upsertOpqIvfPq needs an existing OPQ-IVF-PQ layout for " +
        s"'$sourceDir' — run ensureOpqIvfPq first")
    val innerKey = opqIvfPqInnerKey(sourceDir)
    val replayed = batchId.exists(id =>
      ivfPqMeta(spark, innerKey).get("last_batch_id").exists(id <= _))
    if (replayed) return openOpqIvfPq(spark, sourceDir)
    val rot = rotated(newVecs.select("vec_id", "embedding"),
      ParquetIO.read(spark, s"$base/rotation")).localCheckpoint(true)
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    // invalidate-before-append: a checksum-less outer meta is
    // un-matchable by ensure, so every crash point below forces the
    // safe rebuild instead of serving an inner store that is ahead of
    // the outer fingerprint
    val fpOld = meta.get("checksum")
    writeMetaFull(base, (meta - "checksum").toSeq, Nil)
    upsertIvfPq(spark, innerKey, rot, batchId)
    writeMetaFull(base,
      (meta - "n_rows" - "checksum").toSeq ++
        Seq("n_rows" -> (meta("n_rows") + nNew)) ++
        // a retry over an already-torn layout (no stored checksum)
        // has nothing sound to compose — leave it invalid for ensure
        fpOld.map(c => "checksum" -> (c ^ fpNew)).toSeq,
      Nil)
    openOpqIvfPq(spark, sourceDir)
  }

  /** Delete through the COMPOSED layout (round 15 — the purge leg's
    * verb): tombstones land in the inner rotated IVF-PQ store
    * ([[deleteIvfPq]] — idempotent, anti-join-served, foldable), and
    * the OUTER checksum is dropped FIRST. Without the invalidation the
    * outer (n_rows, checksum) keep describing the pre-delete corpus,
    * and once [[compactOpqIvfPq]] folds the inner tombstones a later
    * [[ensureOpqIvfPq]] over that original corpus would match the
    * outer fingerprint, find the inner layout param-clean, and
    * silently reuse an index missing the purged vectors — the same
    * wrong-answer class [[upsertOpqIvfPq]]'s invalidate-before-append
    * guards on the grow side. A checksum-less outer meta is
    * un-matchable, so any later ensure rebuilds (re-admitting erased
    * ids IF the claimed source still contains them — the honest
    * ensure contract every tombstoned family shares).
    */
  def deleteOpqIvfPq(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): OpqIvfPqHandle = {
    val base = opqIvfPqBase(spark, sourceDir)
    val meta = readMeta(base)
    require(meta.contains("num_sub"),
      s"deleteOpqIvfPq needs an existing OPQ-IVF-PQ layout for " +
        s"'$sourceDir' — run ensureOpqIvfPq first")
    writeMetaFull(base, (meta - "checksum").toSeq, Nil)
    deleteIvfPq(spark, opqIvfPqInnerKey(sourceDir), ids, batchId)
    openOpqIvfPq(spark, sourceDir)
  }

  /** Fold the composed layout's accumulated upsert/tombstone file
    * sets. The rotation is one immutable file written at build time;
    * everything that grows lives in the inner rotated IVF-PQ store,
    * whose [[compactIvfPq]] does the work — including the tombstone
    * fold for deletes issued through [[deleteOpqIvfPq]] (the layout's
    * purge leg). The outer meta is untouched HERE: a pure file fold
    * never changes the corpus, and the delete verb already
    * invalidated the outer checksum, so a folded-tombstone layout
    * stays un-matchable by ensure (rebuild on next ensure — never a
    * silent reuse of an index missing its purged vectors).
    */
  def compactOpqIvfPq(spark: SparkSession,
      sourceDir: String): OpqIvfPqHandle = {
    compactIvfPq(spark, opqIvfPqInnerKey(sourceDir))
    openOpqIvfPq(spark, sourceDir)
  }

  // ---------------------------------- IVF-SQ8 / IVF-BQ / IVF-PQ lifecycle

  /** Persisted COMPOSED index — codec rows INSIDE the probed inverted
    * lists (IVF-SQ8 is faiss's `IVFx,SQ8` factory string, the production
    * 100 TB ANN serving layout; IVF-BQ is the Qdrant/Weaviate "binary
    * quantization inside the index" layout — both public): `lists`
    * holds the codec rows partitioned by `centroid_id`, so a query
    * prunes BOTH dimensions of scan cost at once — probed-lists row
    * pruning (IVF) × fewer bytes per scanned row (the codec),
    * multiplying the two separately-measured wins. `vecs` keeps the
    * float vectors bucketed by vec_id for the exact re-rank of the m
    * winners.
    */
  final case class IvfCodesHandle(centroids: DataFrame, lists: DataFrame,
      vecs: DataFrame)

  private def ivfLayout(c: IvfCodec, spark: SparkSession,
      sourceDir: String) =
    new CodecLayout(spark, c, sourceDir, ivf = true, "lists", "centroid_id",
      c.modelDirs, c.vecsInLists)

  /** An IVF layout's operating point as meta entries: the partition's
    * lists and iters, the codec's own keys, the storage bucketing of
    * its `vecs` (none when the lists keep the vectors).
    */
  private def ivfPoint(c: IvfCodec, lists: Int, iters: Int,
      storageBuckets: Int): Seq[(String, Long)] =
    Seq("lists" -> lists.toLong, "iters" -> iters.toLong) ++ c.point ++
      (if (c.vecsInLists) Nil else Seq("buckets" -> storageBuckets.toLong))

  private def atPoint(meta: Map[String, Long],
      point: Seq[(String, Long)]): Boolean =
    point.forall { case (k, v) => meta.get(k).contains(v) }

  /** The served IVF view ([[served]]): with tombstones co-keyed by
    * centroid at delete time, a probed-list scan prunes its tombstones
    * with it and never pays a full tombstone pass per probe.
    */
  private def ivfCodesHandle(spark: SparkSession,
      l: CodecLayout): IvfCodesHandle = {
    val (lists, vecs) = served(spark, l)
    IvfCodesHandle(ParquetIO.read(spark, l.centroids), lists, vecs)
  }

  /** Full IVF (re)build: clear the tombstones (a rebuild serves exactly
    * its source); train the centroids, train any codec model and land
    * the float table, the three concurrently; then land the lists
    * assigned and encoded with the just-persisted models and commit the
    * meta.
    */
  private def buildIvf(c: IvfCodec, spark: SparkSession, l: CodecLayout,
      index: DataFrame, lists: Int, iters: Int, storageBuckets: Int,
      n: Long, fp: Long, snapshotId: Option[String]): Unit = {
    val rows = index.select("vec_id", "embedding")
    dropTombs(spark, l.base, l.tombs)
    Passes.run(spark, s"${l.stem}.build")(Seq(
      pass("centroids")(SimilaritySearch.kMeansCentroids(rows, lists, iters)
        .write.mode(SaveMode.Overwrite).parquet(l.centroids)),
      pass("model")(c.train(rows, l.base))) ++
      l.vecs.map(v => pass("vecs") {
        spark.sql(s"DROP TABLE IF EXISTS $v")
        writeBucketed(rows, v, "vec_id", storageBuckets,
          Some(s"${l.base}/vecs"))
      }): _*)
    spark.sql(s"DROP TABLE IF EXISTS ${l.scan}")
    writeLists(c.assign(rows, ParquetIO.read(spark, l.centroids), l.base),
      l.scan, Some(s"${l.base}/lists"))
    commitBuilt(l.base, ivfPoint(c, lists, iters, storageBuckets) ++
      Seq("n_rows" -> n, "checksum" -> fp, "n_base" -> n), Nil, snapshotId)
  }

  /** Build (or reuse) the persisted IVF layout: k-means centroids train
    * on the float vectors (the deterministic hash-draw + Lloyd recipe of
    * [[ensureIvf]]), then any codec model (the PQ codebook) persists
    * next to them; the inverted lists land ENCODED with the
    * just-persisted model (one codec projection over the assignment);
    * the float table lands bucketed by vec_id for the shuffle-free
    * re-rank join. Freshness follows the `ensureLsh` discipline (O(1)
    * snapshot-id trust, content fingerprint fallback, shared `servable`
    * recovery probe, meta committed after the data); a tombstoned
    * layout no longer equals assign(source), so it rebuilds, clearing
    * the deletions.
    */
  private def ensureIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String, index: DataFrame, lists: Int, iters: Int,
      storageBuckets: Int, snapshotId: Option[String]): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    ensureLayout(spark, l, ivfPoint(c, lists, iters, storageBuckets),
      storageBuckets, index, snapshotId)(
      buildIvf(c, spark, l, index, lists, iters, storageBuckets, _, _,
        snapshotId))
    ivfCodesHandle(spark, l)
  }

  /** Incremental add into an existing persisted IVF index: new vectors
    * are assigned to the STORED centroids and appended encoded with the
    * STORED codec model into the partitioned lists (plus float rows into
    * `vecs`) — O(new) per batch. Inherits BOTH parents' contracts:
    * [[upsertIvf]]'s drift gate ([[driftGate]] — the centroids and any
    * codec model are distribution-bound) and [[upsertFlat]]'s tombstone
    * refusal and batchId replay-skip; the meta checksum xor-composes.
    * `at` (lists, iters, buckets) is the operating point the caller
    * expects; without one the stored point is trusted. `known`: the new
    * rows' fingerprint when the caller already took it. Any stored
    * snapshot id is dropped (the layout moves ahead of the snapshot
    * that id named).
    */
  private def upsertIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String, newVecs: DataFrame, at: Option[(Int, Int, Int)],
      batchId: Option[Long],
      known: Option[(Long, Long)] = None): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    upsertLayout(spark, l, sourceDir,
      at.map { case (lists, iters, sb) => ivfPoint(c, lists, iters, sb) },
      m => ivfPoint(c, m("lists").toInt, m("iters").toInt, l.buckets(m)),
      newVecs, batchId, known, Nil) { (meta, n) =>
      val nBase = driftGate(spark, l.verb, meta, n)
      val rows = newVecs.select("vec_id", "embedding")
      writeLists(c.assign(rows, ParquetIO.read(spark, l.centroids), l.base),
        l.scan)
      l.vecs.foreach(writeBucketed(rows, _, "vec_id", l.buckets(meta)))
      Seq("n_base" -> nBase)
    }
    ivfCodesHandle(spark, l)
  }

  /** Delete by id from the persisted IVF index — [[deleteFlat]]'s twin,
    * the verb the 100 TB serving layout needs (a production user must
    * remove vectors without an ensure-rebuild). Merge-on-read
    * tombstones CO-KEYED BY CENTROID ([[deleteLayout]]): the batch's
    * live float rows are read from the bucketed `vecs` (an id filter
    * the bucketing prunes) and each id's nearest stored centroid is
    * re-derived — the SAME deterministic assignment that placed its
    * list row, so (centroid_id, vec_id) names exactly the stored row.
    * The served handle anti-joins the probed lists on those keys, so a
    * probe prunes its tombstones together with its lists, and the vecs
    * side on the shared vec_id bucketing. A layout whose lists keep
    * the vectors reads them from the lists and keeps vec_id-only
    * tombstones, served through a broadcast ([[served]]).
    *
    * Same contracts as [[deleteFlat]]: absent and already-deleted ids
    * leave `tomb_rows` unchanged; [[compactIvfCodes]] folds;
    * re-inserting a deleted id fails loudly in [[upsertIvfCodes]]
    * until then; the stored `snapshot_id` drops and `ensure*` over the
    * original source rebuilds; `batchId` replay-skips on its own
    * counter (`last_del_batch_id`).
    */
  private def deleteIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String, ids: DataFrame,
      batchId: Option[Long]): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    deleteLayout(spark, l, sourceDir, ids, batchId) { p =>
      val h = ivfCodesHandle(spark, l)
      // tombstones keyed by list: the kernel that placed each live row
      // (same cosine arithmetic, lowest-id tie rule) re-derives its
      // stored centroid_id from the same vector
      if (l.tombKeys.contains(l.key))
        SimilaritySearch.assignWithVecs(h.vecs.filter(p), h.centroids)
      else h.vecs.filter(p)
    }
    ivfCodesHandle(spark, l)
  }

  /** True iff a persisted IVF layout exists for `sourceDir` AT the
    * given operating point (meta check only — no readability or
    * freshness probe; the [[existsFlat]] contract). Lets callers branch
    * build-vs-open explicitly — the delete-serving lifecycle needs
    * this, since a tombstoned layout deliberately fails `ensure*`'s
    * freshness ("serve exactly this source") and must be OPENED, not
    * re-ensured, to keep serving its deletions.
    */
  private def existsIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String, lists: Int, iters: Int,
      storageBuckets: Int): Boolean = {
    val l = ivfLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    l.built(meta) && atPoint(meta, ivfPoint(c, lists, iters, storageBuckets))
  }

  private def openIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    l.open()
    ivfCodesHandle(spark, l)
  }

  /** Compact the persisted IVF layout: streamed upserts append one
    * file set per micro-batch into every probed PARTITION of the lists
    * table (and into the bucketed vecs table) — after thousands of
    * triggers the per-partition small files erode exactly the pruned
    * scan the layout exists to serve. Rewrites the lists at the same
    * partitioning and the vecs at the same bucketing, as served — so
    * any tombstones fold; meta untouched without tombstones (one
    * [[StoreFiles.swap]] per table; unreadable mid-window layouts read
    * as STALE by `ensure*` and rebuild). Tombstone FOLD as
    * [[compactFlat]]:
    * every crash window either keeps serving correctly (tombs still
    * present) or triggers a rebuild (stale tomb_rows meta over folded
    * data). Not safe concurrent with a writer.
    */
  private def compactIvfCodes(c: IvfCodec, spark: SparkSession,
      sourceDir: String): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    compactLayout(spark, l)((lists, _) =>
      compactPartitioned(spark, l.base, l.scan, "lists", Some(lists)))
    ivfCodesHandle(spark, l)
  }

  // ------------------------------------------------------------- IVF-SQ8

  /** The persisted IVF-SQ8 layout: the composed lifecycle
    * ([[ensureIvfCodes]], [[upsertIvfCodes]], [[deleteIvfCodes]],
    * [[existsIvfCodes]], [[openIvfCodes]], [[compactIvfCodes]]) with the
    * [[Sq8]] codec.
    */
  def ensureIvfSq8(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): IvfCodesHandle =
    ensureIvfCodes(Sq8, spark, sourceDir, index, lists, iters,
      storageBuckets, snapshotId)

  def upsertIvfSq8(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): IvfCodesHandle =
    upsertIvfCodes(Sq8, spark, sourceDir, newVecs,
      Some((lists, iters, storageBuckets)), batchId)

  def deleteIvfSq8(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfCodesHandle =
    deleteIvfCodes(Sq8, spark, sourceDir, ids, batchId)

  def ivfSq8Exists(spark: SparkSession, sourceDir: String,
      lists: Int = 64, iters: Int = 5, storageBuckets: Int = 8): Boolean =
    existsIvfCodes(Sq8, spark, sourceDir, lists, iters, storageBuckets)

  def openIvfSq8(spark: SparkSession, sourceDir: String): IvfCodesHandle =
    openIvfCodes(Sq8, spark, sourceDir)

  def compactIvfSq8(spark: SparkSession, sourceDir: String): IvfCodesHandle =
    compactIvfCodes(Sq8, spark, sourceDir)

  /** Shared doc-id tombstone COMMIT for the unbucketed layouts (plaid,
    * impacts): orphan sweep, idempotent fold of already-tombstoned ids,
    * append-or-create, meta commit with tomb_rows + the caller's
    * last_del_batch_id replay window (snapshot_id dropped — the layout
    * moved past it). The caller validates existence and replay-skip
    * first. Returns the committed total.
    */
  private[sources] def commitDocTombs(spark: SparkSession, base: String,
      table: String, ids: DataFrame, meta: Map[String, Long],
      batchId: Option[Long]): Long = {
    sweepOrphanTombs(spark, base, table)
    val already =
      if (meta.get("tomb_rows").exists(_ > 0L) && tombsServable(spark, base))
        ParquetIO.read(spark, s"$base/tombs")
      else spark.range(0).select(col("id").as("doc_id"))
    val del = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .distinct()
      .join(already.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val nDel = del.count()
    if (nDel == 0) return meta.getOrElse("tomb_rows", 0L)
    if (!spark.catalog.tableExists(table) && tombsServable(spark, base))
      registerExternal(spark, table, s"$base/tombs")
    if (spark.catalog.tableExists(table))
      del.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)
    else
      del.write.mode(SaveMode.Overwrite).option("path", s"$base/tombs")
        .format("parquet").saveAsTable(table)
    val total = meta.getOrElse("tomb_rows", 0L) + nDel
    writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> total) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil)
    total
  }

  /** Append a tombstone batch to `table` at `$base/tombs` (creating the
    * layout on first delete) — shared by the vector layouts' delete
    * verbs. Rows land `clusteredBy` (vec_id, buckets) when given, so the
    * float-table anti-join stays shuffle-free on the index side.
    */
  private[sources] def writeTombs(spark: SparkSession, base: String,
      table: String, batch: DataFrame,
      clusteredBy: Option[(String, Int)]): Unit = {
    // meta is the tombstone commit point: sweep any orphan dir a
    // crashed delete left (appended but never committed) before this
    // batch commits, so tomb_rows counts exactly what is on disk
    sweepOrphanTombs(spark, base, table)
    // tombs COMMITTED by another session must attach BEFORE the
    // exists-check: the create-new branch would otherwise overwrite
    // (lose) their rows
    registerCommittedTombs(spark, base, table, clusteredBy)
    val path =
      if (spark.catalog.tableExists(table)) None else Some(s"$base/tombs")
    clusteredBy match {
      case Some((key, buckets)) =>
        writeBucketed(batch, table, key, buckets, path)
      case None =>
        val w = batch.write.format("parquet")
        path.fold(w.mode(SaveMode.Append))(p =>
            w.mode(SaveMode.Overwrite).option("path", p))
          .saveAsTable(table)
    }
  }

  /** One inverted-list table's compaction step (a [[StoreFiles.swap]]):
    * shared by [[compactIvf]], [[compactIvfSq8]], [[compactIvfPq]] and
    * PLAID. `content` overrides what gets written (default: the table's
    * current rows).
    */
  private[sources] def compactPartitioned(spark: SparkSession, base: String,
      table: String, sub: String,
      content: Option[DataFrame] = None): Unit = {
    val side = s"$base/${sub}_compact_${ProcessHandle.current.pid}"
    val tmp = s"${table}_compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    writeLists(content.getOrElse(spark.table(table)), tmp, Some(side))
    spark.sql(s"DROP TABLE $tmp") // external: catalog entry only
    spark.sql(s"DROP TABLE IF EXISTS $table")
    StoreFiles.swap(s"$base/$sub", side)
  }

  /** Rewrite one bucketed table's content into a side dir at the same
    * (bucketing, sort) spec and atomically swap it live. `content`
    * overrides what gets written (default: the table's current rows) —
    * the tombstone FOLD path passes the anti-joined live set, which is
    * materialized while the old dir is still in place, then swapped.
    * Callers run it under [[withBucketedScanPinned]].
    */
  private[sources] def compactBucketed(spark: SparkSession, base: String,
      table: String, sub: String, key: String, buckets: Int,
      content: Option[DataFrame] = None): Unit = {
    val side = s"$base/${sub}_compact_${ProcessHandle.current.pid}"
    val tmp = s"${table}_compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    writeBucketed(content.getOrElse(spark.table(table)), tmp, key, buckets,
      Some(side))
    spark.sql(s"DROP TABLE $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    StoreFiles.swap(s"$base/$sub", side)
  }

  /** Run `body` with the planner's auto-disable of bucketed scans off,
    * then restore the setting exactly as found (unset stays unset). A
    * [[compactBucketed]] rewrite reads a table bucketed the same way, so
    * writeBucketed's repartition collapses to the scan's own
    * partitioning — but the auto-disable then reverts the scan to
    * per-file partitions with the exchange already elided, resurrecting
    * the tasks × buckets fan-out; pinning the bucketed scan on keeps
    * partitions ≡ buckets. Set once around a whole group of concurrent
    * rewrites: a pass that set and restored it itself would restore
    * over another pass's setting.
    */
  private[sources] def withBucketedScanPinned[T](spark: SparkSession)(
      body: => T): T = {
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    // the explicit setting, not getOption's default: unset stays unset
    val priorAutoScan = spark.conf.getAll.get(autoScanKey)
    spark.conf.set(autoScanKey, "false")
    try body
    finally priorAutoScan match {
      case Some(v) => spark.conf.set(autoScanKey, v)
      case None => spark.conf.unset(autoScanKey)
    }
  }

  /** Query the persisted IVF-SQ8 index: rank centroids per query
    * (broadcast, tiny), scan ONLY the probed lists' int8 codes — the
    * broadcast probe join on the partition column triggers dynamic
    * partition pruning, so unprobed list directories are never read and
    * the probed ones are read at a quarter of the float bytes — then
    * exact float re-rank of the m winners against the co-bucketed
    * `vecs` table. The SQ8 layer is measured output-identical to
    * [[queryIvf]] at the same (lists, nProbe) for m ≫ k (`AnnTune
    * ivfsq8`; the q109 invariant pins it in CI), so the composition
    * inherits exactly the IVF probe recall at the operating point.
    */
  def queryIvfSq8(
      queries: DataFrame,
      handle: IvfCodesHandle,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 32): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.ivfSq8Candidates(queries, handle.lists,
        handle.centroids, nProbe, m),
      queries, handle.vecs, k)
  }

  /** Metadata-FILTERED search on the composed IVF-SQ8 layout —
    * [[querySq8Filtered]]'s twin for the 100 TB serving shape, so
    * filtered retrieval no longer forfeits the composed scan-I/O win.
    * PRE-filter semantics: `allowed` left-semi restricts the probed
    * quantized lists BEFORE the top-m selection, so top-m and top-k
    * are taken WITHIN the filtered set (never the post-filter shape
    * that silently under-returns). The filter shrinks per-list
    * candidates, which interacts with the (nProbe, m) margin — certify
    * the operating point under the target selectivity the way
    * q113/q114 did (q143 pins ~50% selectivity at the shipped point).
    *
    * Scale shape: the semi-join keys the probed lists' rows against
    * the allowed ids (broadcast when the filtered set is small); DPP
    * from the probe join still prunes unprobed list directories, and
    * the probed rows are still read at SQ8 bytes.
    */
  def queryIvfSq8Filtered(
      queries: DataFrame,
      handle: IvfCodesHandle,
      allowed: DataFrame,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 32): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.ivfSq8Candidates(queries,
        handle.lists.join(allowed.select("vec_id"), Seq("vec_id"),
          "left_semi"),
        handle.centroids, nProbe, m),
      queries, handle.vecs, k)
  }

  /** Query the persisted SQ8 index: integer-dot approximate cosine over
    * the stored codes selects `m` candidates per query (bounded TopKAgg
    * — O(partitions · queries · m) shuffle), exact float re-rank of the
    * winners against the co-bucketed `vecs` table returns top-k. At
    * `m ≫ k` the output is identical to the exact scan (q105 pins it
    * against the exact-kNN oracle); the scan itself reads only the
    * 4×-compressed codes column.
    */
  def querySq8(
      queries: DataFrame,
      handle: CodesHandle,
      k: Int = 4,
      m: Int = 32): DataFrame =
    querySq8Core(queries, handle.codes, handle.vecs, k, m)

  /** Metadata-FILTERED quantized serving — the vector-store `filter=`
    * query shape (the reference's stack exposes it as Pinecone's
    * metadata filter; public API). PRE-filter semantics: `allowed`
    * (a (vec_id, …) frame, typically an attribute table the caller
    * already filtered by their predicate) restricts the compressed
    * codes scan BEFORE candidate selection, so top-m and top-k are
    * taken WITHIN the filtered set — exact filtered retrieval, never
    * the post-filter shape (filter after top-k) that silently returns
    * fewer than k hits and loses recall whenever the filter excludes
    * unfiltered winners. The SQ8 identity argument is unchanged within
    * the filtered set (m ≫ k margin — q114 pins it against the
    * filtered exact-kNN oracle).
    *
    * Scale shape: a left-semi join of the codes table against the
    * allowed ids — shuffle-free on the index side when the attribute
    * table shares the vec_id bucketing (the layout contract), a
    * broadcast when the filtered set is small; everything downstream
    * is `querySq8`'s plan over the restricted scan.
    */
  def querySq8Filtered(
      queries: DataFrame,
      handle: CodesHandle,
      allowed: DataFrame,
      k: Int = 4,
      m: Int = 32): DataFrame =
    querySq8Core(queries,
      handle.codes.join(allowed.select("vec_id"), Seq("vec_id"),
        "left_semi"),
      handle.vecs, k, m)

  /** The candidate stage of [[querySq8]] alone: per query the top-m
    * `(query_id, vec_id)` pairs by the int8 approximate cosine over the
    * compressed codes scan — no re-rank. Exposed inside the package so
    * composed serving paths (the quantized adaptive retriever probes
    * the SAME codes table with the query AND the profile vector and
    * exact-reranks the candidate UNION by the blend) reuse the scan
    * stage without paying a second rerank join.
    */
  private[graft] def sq8Candidates(
      queries: DataFrame,
      codes: DataFrame,
      m: Int): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    import graft.functions.expressions.VectorExpressions.dot_i8
    require(m >= 1, s"candidate count m ($m) must be >= 1")
    val qq = broadcast(
      SimilaritySearch.quantizeIndex(queries, idCol = "query_id",
          vecCol = "query_vec")
        .select(col("query_id"), col("codes").as("qcodes"),
          col("qscale").as("qqscale"), col("qnorm").as("qqnorm")))
    codes.crossJoin(qq)
      .withColumn("ascore",
        when(col("qnorm") * col("qqnorm") === 0.0, lit(0.0))
          .otherwise(dot_i8(col("codes"), col("qcodes")).cast("double")
            * col("qscale") * col("qqscale")
            / (col("qnorm") * col("qqnorm"))))
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("vec_id"), m).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("vec_id"))
  }

  private def querySq8Core(
      queries: DataFrame,
      codes: DataFrame,
      vecs: DataFrame,
      k: Int,
      m: Int): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(sq8Candidates(queries, codes, m),
      queries, vecs, k)
  }

  // -------------------------------------------------------------- IVF-PQ

  /** Persisted IVF-PQ — the faiss `IVFx,PQy` serving layout: PQ codes
    * inside the centroid-partitioned inverted lists (`lists` holds
    * (vec_id, pqcodes, pnorm) partitioned by `centroid_id`), the
    * trained `codebook` as the stored model artifact, float `vecs`
    * co-bucketed for the exact re-rank. A query prunes probed-list
    * rows (DPP) AND reads each probed row at `numSub` bytes — ≈43×
    * less scan I/O than the exact float scan at the shipped point
    * (BASELINE.md).
    */
  final case class IvfPqHandle(centroids: DataFrame, codebook: DataFrame,
      lists: DataFrame, vecs: DataFrame, numSub: Int, ksub: Int)

  /** The committed meta of `sourceDir`'s IVF-PQ layout. Layout names
    * depend on the codec stem alone, so a zero `Pq` locates it.
    */
  private def ivfPqMeta(spark: SparkSession,
      sourceDir: String): Map[String, Long] =
    readMeta(ivfLayout(Pq(0, 0, 0), spark, sourceDir).base)

  /** The served IVF-PQ view: the shared IVF handle ([[ivfCodesHandle]]
    * — its tombstone anti-joins included) plus the stored codebook and
    * the sub-quantizer shape.
    */
  private def ivfPqServed(spark: SparkSession, c: Pq, sourceDir: String,
      h: IvfCodesHandle): IvfPqHandle = {
    val base = ivfLayout(c, spark, sourceDir).base
    IvfPqHandle(h.centroids, ParquetIO.read(spark, s"$base/codebook"),
      h.lists, h.vecs, c.numSub, c.ksub)
  }

  /** Run a lifecycle verb that takes no operating point with IVF-PQ at
    * the one its layout's meta records, and serve the result. An
    * unbuilt layout yields zeros, which the lifecycle's `built` check
    * refuses before the codec is used.
    */
  private def atStoredPq(spark: SparkSession, sourceDir: String)(
      verb: Pq => IvfCodesHandle): IvfPqHandle = {
    val c = storedPq(ivfPqMeta(spark, sourceDir), "pq_iters")
    ivfPqServed(spark, c, sourceDir, verb(c))
  }

  /** The persisted IVF-PQ layout: the composed lifecycle
    * ([[ensureIvfCodes]], [[upsertIvfCodes]], [[deleteIvfCodes]],
    * [[existsIvfCodes]], [[openIvfCodes]], [[compactIvfCodes]]) with the
    * [[Pq]] codec — k-means centroids AND per-subspace PQ codebooks
    * train on the float vectors (the ensureIvfSq8 centroid recipe + the
    * ensurePq codebook recipe). Upsert, delete, open and compact run at
    * the STORED operating point: an upsert encodes with the stored
    * centroids and codebook under the drift gate (both models are
    * distribution-bound), compaction never touches the trained model.
    */
  def ensureIvfPq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      numSub: Int = 16,
      ksub: Int = 64,
      pqIters: Int = 2,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): IvfPqHandle = {
    val c = Pq(numSub, ksub, pqIters)
    ivfPqServed(spark, c, sourceDir, ensureIvfCodes(c, spark, sourceDir,
      index, lists, iters, storageBuckets, snapshotId))
  }

  def upsertIvfPq(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      batchId: Option[Long] = None): IvfPqHandle =
    atStoredPq(spark, sourceDir)(
      upsertIvfCodes(_, spark, sourceDir, newVecs, None, batchId))

  def deleteIvfPq(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfPqHandle =
    atStoredPq(spark, sourceDir)(
      deleteIvfCodes(_, spark, sourceDir, ids, batchId))

  def ivfPqExists(spark: SparkSession, sourceDir: String,
      lists: Int = 64, iters: Int = 5, numSub: Int = 16, ksub: Int = 64,
      pqIters: Int = 2, storageBuckets: Int = 8): Boolean =
    existsIvfCodes(Pq(numSub, ksub, pqIters), spark, sourceDir, lists,
      iters, storageBuckets)

  def openIvfPq(spark: SparkSession, sourceDir: String): IvfPqHandle =
    atStoredPq(spark, sourceDir)(openIvfCodes(_, spark, sourceDir))

  def compactIvfPq(spark: SparkSession, sourceDir: String): IvfPqHandle =
    atStoredPq(spark, sourceDir)(compactIvfCodes(_, spark, sourceDir))

  /** Query the persisted IVF-PQ index: rank centroids per query
    * (broadcast, tiny), ADC-scan ONLY the probed lists' PQ codes (the
    * broadcast probe join on the partition column triggers dynamic
    * partition pruning — unprobed list directories never read, probed
    * rows read at `numSub` bytes), exact float re-rank of the m
    * winners against the co-bucketed `vecs`. The PQ layer is measured
    * output-identical to [[queryIvf]] at the same (lists, nProbe) for
    * the certified (numSub, ksub, m) — `AnnTune ivfpq`, pinned by
    * q121's in-memory twin — so the composition inherits exactly IVF's
    * probe recall.
    */
  def queryIvfPq(
      queries: DataFrame,
      handle: IvfPqHandle,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 64): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    val flat = SimilaritySearch.collectCodebook(handle.codebook,
      handle.numSub, handle.ksub)
    SimilaritySearch.rerank(
      SimilaritySearch.ivfPqCandidates(queries, handle.lists,
        handle.centroids, flat, handle.numSub, handle.ksub, nProbe, m),
      queries, handle.vecs, k)
  }

  /** Metadata-FILTERED search on the composed IVF-PQ layout —
    * [[queryIvfSq8Filtered]]'s PQ twin, same PRE-filter semantics
    * (top-m ADC and top-k taken WITHIN the allowed set) and the same
    * scale shape: DPP still prunes unprobed list directories, probed
    * rows still read at numSub bytes, the semi-join keys ids only.
    * Certify the (nProbe, m) point under the target selectivity
    * (q144 pins ~50%).
    */
  def queryIvfPqFiltered(
      queries: DataFrame,
      handle: IvfPqHandle,
      allowed: DataFrame,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 64): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    val flat = SimilaritySearch.collectCodebook(handle.codebook,
      handle.numSub, handle.ksub)
    SimilaritySearch.rerank(
      SimilaritySearch.ivfPqCandidates(queries,
        handle.lists.join(allowed.select("vec_id"), Seq("vec_id"),
          "left_semi"),
        handle.centroids, flat, handle.numSub, handle.ksub, nProbe, m),
      queries, handle.vecs, k)
  }

  // ------------------------------------------------------------------ BQ

  /** The persisted BQ layout — the 1-bit extreme of the quantized
    * serving family and the biggest scan-I/O lever in the house: the
    * flat lifecycle ([[ensureFlat]] … [[compactFlat]]) with the [[Bq]]
    * codec, so `codes` holds (vec_id, bcodes). Inherits
    * [[binaryTopK]]'s deploy contract: high ambient dimension is a
    * PRECONDITION (the measured 64-dim negative control never reaches
    * identity — `AnnTune bq`), and the (k, m) point must be certified
    * against exact kNN before serving (q162 pins 1536-dim, m=256).
    */
  def ensureBq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): CodesHandle =
    ensureFlat(Bq, spark, sourceDir, index, storageBuckets, snapshotId)

  def upsertBq(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): CodesHandle =
    upsertFlat(Bq, spark, sourceDir, newVecs, storageBuckets, batchId)

  def deleteBq(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): CodesHandle =
    deleteFlat(Bq, spark, sourceDir, ids, batchId)

  def bqExists(spark: SparkSession, sourceDir: String): Boolean =
    existsFlat(Bq, spark, sourceDir)

  def openBq(spark: SparkSession, sourceDir: String): CodesHandle =
    openFlat(Bq, spark, sourceDir)

  def compactBq(spark: SparkSession, sourceDir: String): CodesHandle =
    compactFlat(Bq, spark, sourceDir)

  /** Query the persisted BQ index: XOR+popcount Hamming over the
    * stored 1-bit codes selects `m` candidates per query (bounded
    * map-side TopKAgg — the scan reads 1/32 of the float bytes), exact
    * float re-rank against the co-bucketed `vecs` table returns top-k.
    * The candidate stage is [[SimilaritySearch.binaryCandidates]] —
    * shared verbatim with the in-memory [[SimilaritySearch.binaryTopK]]
    * path, so persisted ≡ in-memory by construction. The default m
    * is the q162-certified 1536-dim margin; certify any new
    * (dim, k, m) point against exact kNN before serving.
    */
  def queryBq(
      queries: DataFrame,
      handle: CodesHandle,
      k: Int = 4,
      m: Int = 256): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.binaryCandidates(queries, handle.codes, m),
      queries, handle.vecs, k)
  }

  /** Metadata-FILTERED binary serving ([[querySq8Filtered]]'s 1-bit
    * twin): `allowed` left-semi restricts the codes scan BEFORE
    * candidate selection — top-m and top-k taken WITHIN the filtered
    * set, never the silently-under-returning post-filter shape.
    */
  def queryBqFiltered(
      queries: DataFrame,
      handle: CodesHandle,
      allowed: DataFrame,
      k: Int = 4,
      m: Int = 256): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.binaryCandidates(queries,
        handle.codes.join(allowed.select("vec_id"), Seq("vec_id"),
          "left_semi"), m),
      queries, handle.vecs, k)
  }

  // -------------------------------------------------------------- IVF-BQ

  /** The persisted IVF-BQ layout — 1-bit codes inside the
    * centroid-partitioned inverted lists: the composed lifecycle
    * ([[ensureIvfCodes]] … [[compactIvfCodes]]) with the [[Bq]] codec,
    * so `lists` holds (vec_id, bcodes). A query prunes probed-list rows
    * (DPP) AND reads each probed row at ⌈dim/8⌉ bytes — the two scan
    * reductions multiply, 8× past even IVF-SQ8's bytes, paid for with
    * the fatter re-rank margin the binary family needs (q168's
    * certified nProbe/m point).
    */
  def ensureIvfBq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): IvfCodesHandle =
    ensureIvfCodes(Bq, spark, sourceDir, index, lists, iters,
      storageBuckets, snapshotId)

  def upsertIvfBq(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      lists: Int = 64,
      iters: Int = 5,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): IvfCodesHandle =
    upsertIvfCodes(Bq, spark, sourceDir, newVecs,
      Some((lists, iters, storageBuckets)), batchId)

  def deleteIvfBq(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfCodesHandle =
    deleteIvfCodes(Bq, spark, sourceDir, ids, batchId)

  def ivfBqExists(spark: SparkSession, sourceDir: String,
      lists: Int = 64, iters: Int = 5, storageBuckets: Int = 8): Boolean =
    existsIvfCodes(Bq, spark, sourceDir, lists, iters, storageBuckets)

  def openIvfBq(spark: SparkSession, sourceDir: String): IvfCodesHandle =
    openIvfCodes(Bq, spark, sourceDir)

  def compactIvfBq(spark: SparkSession, sourceDir: String): IvfCodesHandle =
    compactIvfCodes(Bq, spark, sourceDir)

  /** Query the persisted IVF-BQ index: rank centroids per query
    * (broadcast, tiny), Hamming-scan ONLY the probed lists' 1-bit
    * codes — the broadcast probe join on the partition column triggers
    * dynamic partition pruning, so unprobed list directories are never
    * read and probed rows cost 1/32 of the float bytes — then exact
    * float re-rank of the m winners against the co-bucketed `vecs`.
    * The candidate stage is [[SimilaritySearch.ivfBqCandidates]] —
    * shared verbatim with the in-memory [[SimilaritySearch.ivfBqTopK]],
    * so persisted ≡ in-memory by construction; q168's panel certifies
    * the (nProbe, m) point against the float IVF path.
    */
  def queryIvfBq(
      queries: DataFrame,
      handle: IvfCodesHandle,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 256): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.ivfBqCandidates(queries, handle.lists,
        handle.centroids, nProbe, m),
      queries, handle.vecs, k)
  }

  /** Metadata-FILTERED search on the composed IVF-BQ layout
    * ([[queryIvfSq8Filtered]]'s 1-bit twin): PRE-filter semantics —
    * `allowed` restricts the probed sign-packed lists BEFORE top-m,
    * DPP still prunes unprobed directories.
    */
  def queryIvfBqFiltered(
      queries: DataFrame,
      handle: IvfCodesHandle,
      allowed: DataFrame,
      k: Int = 4,
      nProbe: Int = 24,
      m: Int = 256): DataFrame = {
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    SimilaritySearch.rerank(
      SimilaritySearch.ivfBqCandidates(queries,
        handle.lists.join(allowed.select("vec_id"), Seq("vec_id"),
          "left_semi"),
        handle.centroids, nProbe, m),
      queries, handle.vecs, k)
  }

  /** One row per persisted index store (the reference stack's
    * control-plane surface: Pinecone `pc.list_indexes()` for
    * create-or-connect, `index.describe_index_stats()` for occupancy —
    * `/root/reference/AI.py:48,56`): store name, layout family, row
    * count and last upsert batch from the meta, plus on-disk file
    * count and bytes (what compaction monitoring watches — a streamed
    * store's file count growing without bound IS the compaction
    * alarm).
    *
    * Scale shape: driver-side directory walk over the INDEX base —
    * control-plane metadata bounded by the number of indexes, never
    * corpus data. Stores whose meta is missing (mid-build, crashed
    * rename window) are skipped, not half-read.
    *
    * Covers every RETRIEVAL layout sharing the meta protocol — the
    * vector families plus the lexical/late-interaction twins (postings,
    * impacts, plaid). `tomb_rows` reports pending deletions;
    * `poisoned` is true for a layout that REFUSES to serve until a
    * rebuild (today: a tombstoned impact index, whose baked statistics
    * no longer match the survivors — [[ImpactIndex.deleteImpacts]]),
    * so an operator sees "rebuild needed" here instead of at the
    * serve-time require.
    *
    * `stale` (round 15) surfaces the impact layout's REBUILD-ONLY
    * contract: [[graft.sources.KeywordIndex]] postings are THE
    * streaming lexical serving surface (O(batch) upserts, exact BM25
    * under fresh statistics), while the impact-banded twin bakes
    * df/avgdl/gmax globally at build — a streamed corpus moves the
    * postings twin past it. Because both layouts keep the same
    * (n_docs, checksum) content fingerprint over (doc_id, text) — and
    * the postings one xor-COMPOSES across upserts — staleness is
    * decidable at the control plane with zero data scans: an impacts
    * row is `stale` iff its same-keyed postings twin exists and their
    * fingerprints differ. A stale impact layout still serves (its
    * answers are exact for the corpus it was built over); the
    * operator's move is `ensureImpacts` over the grown source, which
    * re-fingerprints and re-bands. Non-impact layouts report false —
    * their freshness is the ensure-time fingerprint itself.
    */
  def listIndexes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val baseDir = new java.io.File(annBase(spark))
    def layoutOf(name: String): Option[String] =
      if (name.startsWith("graft_ann_"))
        Some(name.stripPrefix("graft_ann_")
          .split('_').dropRight(1).mkString("_"))
      else if (name.startsWith("graft_kwbmw_")) Some("impacts")
      else if (name.startsWith("graft_kw_")) Some("postings")
      else if (name.startsWith("graft_plaid_")) Some("plaid")
      else None
    val dirs = Option(baseDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .sortBy(_.getName)
    // the postings twins' composed fingerprints, keyed by store tag —
    // the comparison frame for the impact layouts' `stale` column
    // (bounded by the number of indexes; meta reads only)
    val postingsFp: Map[String, (Option[Long], Option[Long])] = dirs
      .filter(_.getName.startsWith("graft_kw_"))
      .map { d =>
        val m = readMeta(d.getAbsolutePath)
        d.getName.stripPrefix("graft_kw_") ->
          (m.get("n_docs"), m.get("checksum"))
      }.toMap
    val rows = dirs
      .flatMap { d =>
        val meta = readMeta(d.getAbsolutePath)
        layoutOf(d.getName).filter(_ => meta.nonEmpty).map { layout =>
          var bytes = 0L
          var files = 0L
          val it = Files.walk(d.toPath)
          try it.forEach { p =>
            if (Files.isRegularFile(p)) {
              files += 1; bytes += Files.size(p)
            }
          } finally it.close()
          val tombs = meta.getOrElse("tomb_rows", 0L)
          // rebuild-only impacts vs its incrementally-upserted postings
          // twin: fingerprints diverged ⇒ the banded layout serves an
          // older corpus than the streaming surface
          val stale = layout == "impacts" &&
            postingsFp.get(d.getName.stripPrefix("graft_kwbmw_"))
              .exists { case (n, fp) =>
                n != meta.get("n_docs") || fp != meta.get("checksum") }
          // the lexical layouts count documents, not vector rows
          (d.getName, layout,
            meta.getOrElse("n_rows", meta.getOrElse("n_docs", 0L)),
            meta.getOrElse("last_batch_id", -1L), files, bytes,
            tombs, layout == "impacts" && tombs > 0L, stale)
        }
      }
    rows.toSeq
      .toDF("name", "layout", "n_rows", "last_batch_id", "n_files",
        "bytes", "tomb_rows", "poisoned", "stale")
  }
}
