package graft.sources

import graft.operators.SimilaritySearch
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** PERSISTED approximate-nearest-neighbor index (SURVEY.md §2.1 S4/S5 +
  * §4 O3). The reference creates its vector index ONCE and queries it
  * repeatedly (`/root/reference/AI.py:47-55`, queried per ask at
  * `AI.py:138`); the in-memory paths in [[SimilaritySearch]] recompute
  * signatures (LSH) or the whole k-means build (IVF) inside every query.
  * At a 100 TB index the build dwarfs any single query — amortizing it is
  * the entire point of an index. This module stores:
  *
  *  - LSH: a bucket table `(tb, vec_id)` where `tb = table * 2^bits +
  *    bucket`, written `bucketBy(tb)`/`sortBy(tb)` through the catalog,
  *    plus a vector table `(vec_id, embedding)` bucketed by `vec_id` for
  *    the re-rank join. Queries broadcast their probed bucket ids and
  *    equi-join the bucket table on `tb` — no signature is recomputed
  *    over the index side, and the index scan is a single pass over a
  *    narrow (long, long) relation with no index-side shuffle.
  *  - IVF: Lloyd-refined centroids (tiny, plain parquet) plus the
  *    inverted lists `(centroid_id, vec_id, embedding)` partitioned by
  *    `centroid_id` — probing nProbe lists per query is partition
  *    pruning, the classic inverted-file read pattern.
  *
  * Freshness contract: `ensure*` rebuilds when the stored meta (operating
  * point + row count) no longer matches the source frame; the layout is
  * keyed by a tag of the source dir so different fixtures never collide.
  * (A production deployment would key on a table snapshot/version id
  * instead of a row-count heuristic; the fixtures are immutable files.)
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

  /** Meta lands via temp-file + atomic rename, and is written only AFTER
    * the index tables are fully materialized — a crashed or concurrent
    * build leaves either the old meta (→ next ensure* rebuilds) or the
    * new complete state, never a half-readable meta pointing at
    * half-written tables. (Two concurrent builders over the SAME
    * immutable fixture write identical content, so last-writer-wins is
    * benign; a production deployment over mutable sources would key the
    * layout on a table snapshot id instead.)
    */
  private def writeMeta(base: String, kv: (String, Long)*): Unit =
    writeMetaFull(base, kv, Nil)

  private[sources] def writeMetaFull(base: String, num: Seq[(String, Long)],
      str: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(base))
    val tmp = Paths.get(base, s"_ann_meta.json.tmp${ProcessHandle.current.pid}")
    val fields = num.map { case (k, v) => s""""$k": $v""" } ++
      str.map { case (k, v) => s""""$k": "$v"""" }
    Files.writeString(tmp, fields.mkString("{", ", ", "}"))
    Files.move(tmp, metaPath(base),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

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

  private[sources] def readMetaStrs(base: String): Map[String, String] = {
    val p = metaPath(base)
    if (!Files.exists(p)) Map.empty
    else "\"([a-zA-Z_]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

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
    // footer-schema DDL for the unpartitioned layouts (no inference
    // job); partitioned ones keep the inference read — their DDL needs
    // the discovered partition column and its inferred type
    val schema =
      if (partitionedBy.isEmpty)
        ParquetIO.footerSchema(spark, path)
          .getOrElse(spark.read.parquet(path).schema)
      else spark.read.parquet(path).schema
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

  private[sources] def readMeta(base: String): Map[String, Long] = {
    val p = metaPath(base)
    if (!Files.exists(p)) Map.empty
    else "\"([a-zA-Z_]+)\"\\s*:\\s*(-?\\d+)".r
      .findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

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
  private def dropTombs(spark: SparkSession, base: String,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val d = Paths.get(base, "tombs")
    if (Files.exists(d))
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  private def lshBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_lsh_$tag"

  /** Per-vector bucket rows, one per hash table: `tb = table * 2^bits +
    * bucket` packs the table id and bucket into one join key.
    */
  private def lshBucketRows(index: DataFrame, tables: Int,
      bits: Int): DataFrame = {
    import graft.functions.expressions.VectorExpressions.lsh_buckets
    index.select(col("vec_id"),
      posexplode(lsh_buckets(col("embedding"), tables, bits))
        .as(Seq("tbl", "bucket")))
      .select(
        (col("tbl").cast("long") * (1L << bits) + col("bucket")).as("tb"),
        col("vec_id"))
  }

  private def lshMetaMatches(meta: Map[String, Long], tables: Int, bits: Int,
      storageBuckets: Int, n: Long, fp: Long): Boolean =
    meta.get("tables").contains(tables.toLong) &&
      meta.get("bits").contains(bits.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp)

  private def lshRegistered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(s"graft_lsh_buckets_$tag") &&
      spark.catalog.tableExists(s"graft_lsh_vecs_$tag")

  /** Attach the on-disk layout written by an earlier process: DDL only. */
  private def attachLsh(spark: SparkSession, tag: String,
      storageBuckets: Int): Unit = {
    val base = lshBase(spark, tag)
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_buckets_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_vecs_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_tombs_$tag")
    registerExternal(spark, s"graft_lsh_buckets_$tag", s"$base/buckets",
      clusteredBy = Some(("tb", storageBuckets)))
    registerExternal(spark, s"graft_lsh_vecs_$tag", s"$base/vecs",
      clusteredBy = Some(("vec_id", storageBuckets)))
    if (tombsServable(spark, base))
      registerExternal(spark, s"graft_lsh_tombs_$tag", s"$base/tombs",
        clusteredBy = Some(("vec_id", storageBuckets)))
  }

  /** Full (re)build: overwrite both tables, then commit the meta. The
    * prior meta's `last_batch_id` is carried through: a rebuild between a
    * streaming crash and its replay must not reopen the replay-skip
    * window (the replayed batch — already inside the rebuild's source —
    * would re-append, duplicating its vectors). Contract: a rebuild's
    * source includes every batch already applied; rebuilding from a
    * source that deliberately excludes applied batches needs a fresh
    * sourceDir.
    */
  private def buildLsh(spark: SparkSession, tag: String, index: DataFrame,
      tables: Int, bits: Int, storageBuckets: Int, n: Long,
      fp: Long, snapshotId: Option[String] = None): Unit = {
    val base = lshBase(spark, tag)
    val priorBatch = readMeta(base).get("last_batch_id")
    val priorDelBatch = readMeta(base).get("last_del_batch_id")
    // a rebuild serves exactly its source: tombstones are cleared (the
    // ensureSq8 discipline); the delete replay-skip window survives
    dropTombs(spark, base, s"graft_lsh_tombs_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_buckets_$tag")
    lshBucketRows(index, tables, bits).write.mode(SaveMode.Overwrite)
      .option("path", s"$base/buckets")
      .bucketBy(storageBuckets, "tb").sortBy("tb")
      .format("parquet").saveAsTable(s"graft_lsh_buckets_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_vecs_$tag")
    saveByVecId(index.select("vec_id", "embedding"), s"graft_lsh_vecs_$tag",
      storageBuckets, Some(s"$base/vecs"))
    writeMetaFull(base,
      Seq("tables" -> tables.toLong, "bits" -> bits.toLong,
        "buckets" -> storageBuckets.toLong, "n_rows" -> n, "checksum" -> fp) ++
        priorBatch.map("last_batch_id" -> _).toSeq ++
        priorDelBatch.map("last_del_batch_id" -> _).toSeq,
      Seq("source_paths" -> joinPaths(relationPaths(index))) ++
        snapshotId.map("snapshot_id" -> _).toSeq)
  }

  /** The served LSH view (the [[flatHandle]] discipline): when a
    * tombstone table exists both sides anti-join it on vec_id — the
    * vecs side shares the bucketing (exchange-free); the buckets table
    * is bucketed by `tb`, so its anti-join rides a broadcast of the
    * (deletion-bounded) tombstone set instead.
    */
  private def lshHandle(spark: SparkSession, tag: String, tables: Int,
      bits: Int): LshHandle = {
    val buckets = spark.table(s"graft_lsh_buckets_$tag")
    val vecs = spark.table(s"graft_lsh_vecs_$tag")
    val (b, v) =
      if (spark.catalog.tableExists(s"graft_lsh_tombs_$tag")) {
        val tombs = spark.table(s"graft_lsh_tombs_$tag")
        (buckets.join(broadcast(tombs), Seq("vec_id"), "left_anti"),
          vecs.join(tombs, Seq("vec_id"), "left_anti"))
      } else (buckets, vecs)
    LshHandle(b, v, tables, bits,
      readMetaStrs(lshBase(spark, tag)).get("source_paths")
        .map(splitPaths).getOrElse(Nil))
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
    * named snapshot).
    */
  def ensureLsh(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = lshBase(spark, tag)
    // a tombstoned layout no longer equals signatures(source): ensure's
    // contract is "serve exactly this source", so deletions force a
    // rebuild which clears them (the ensureSq8 discipline)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists { id =>
      val meta = readMeta(base)
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        meta.get("tables").contains(tables.toLong) &&
        meta.get("bits").contains(bits.toLong) &&
        meta.get("buckets").contains(storageBuckets.toLong)
    } && tombFree
    if (snapFresh && servable(spark,
        Seq(s"$base/buckets", s"$base/vecs"),
        lshRegistered(spark, tag),
        () => attachLsh(spark, tag, storageBuckets)))
      return lshHandle(spark, tag, tables, bits)
    // an unreadable layout under a fresh snapshot id falls through to
    // the fingerprint path, which rebuilds
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    // a matching meta over an unreadable layout (a compaction or build
    // crashed inside a directory-rename window) must count as STALE —
    // otherwise the attach throws forever and no API call can rebuild.
    // The readability probe (a footer read) must not trust this
    // session's catalog registration: files can be gone while the
    // registration survives.
    val metaFresh = lshMetaMatches(readMeta(base), tables,
      bits, storageBuckets, n, fp) && tombFree &&
      servable(spark, Seq(s"$base/buckets", s"$base/vecs"),
        lshRegistered(spark, tag),
        () => attachLsh(spark, tag, storageBuckets))
    if (!metaFresh)
      buildLsh(spark, tag, index, tables, bits, storageBuckets, n, fp,
        snapshotId)
    if (metaFresh && snapshotId.isDefined)
      // content unchanged under a new snapshot name: record the id so
      // the NEXT ensure at this snapshot skips the scan entirely
      writeMetaFull(base,
        Seq("tables" -> tables.toLong, "bits" -> bits.toLong,
          "buckets" -> storageBuckets.toLong, "n_rows" -> n,
          "checksum" -> fp) ++
          readMeta(base).get("last_batch_id")
            .map("last_batch_id" -> _).toSeq ++
          readMeta(base).get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        Seq("source_paths" -> readMetaStrs(base)
          .getOrElse("source_paths", joinPaths(relationPaths(index)))) ++
          snapshotId.map("snapshot_id" -> _).toSeq)
    lshHandle(spark, tag, tables, bits)
  }

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
    * pass, which the immutable fixtures never exercise.
    *
    * `batchId`: the idempotent-foreachBatch recipe for at-least-once
    * streaming replay. When set, a batch whose id is ≤ the meta's
    * `last_batch_id` is SKIPPED — a crash-replayed micro-batch neither
    * re-appends its rows (duplicate vecs rows would multiply rerank
    * candidates and could push duplicate vec_ids into the top-k) nor
    * double-xors the checksum. The remaining window is a crash BETWEEN
    * the table appends and the meta commit: that one batch replays as
    * a duplicate — closing it needs an atomically-committing table
    * format, out of scope for a parquet layout.
    */
  def upsertLsh(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8,
      batchId: Option[Long] = None): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = lshBase(spark, tag)
    val meta = readMeta(base)
    require(meta.get("tables").contains(tables.toLong) &&
      meta.get("bits").contains(bits.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong),
      s"upsertLsh needs an existing index at the same operating point " +
        s"(tables=$tables bits=$bits buckets=$storageBuckets); found $meta")
    // appending into a crashed-compaction gutted layout would RECREATE
    // the dir holding only this batch while the xor'd checksum claims
    // the full corpus — silent corruption every later probe trusts;
    // fail loudly instead (ensureLsh is the rebuild path)
    require(parquetReadable(spark, s"$base/buckets") &&
      parquetReadable(spark, s"$base/vecs"),
      s"persisted LSH layout for '$sourceDir' is unreadable (crashed " +
        "compaction?) — run ensureLsh to rebuild before upserting")
    if (!lshRegistered(spark, tag)) attachLsh(spark, tag, storageBuckets)
    val replayed = batchId.exists(id =>
      meta.get("last_batch_id").exists(id <= _))
    if (replayed) return lshHandle(spark, tag, tables, bits)
    // append-only + tombstone contract (the upsertSq8 discipline):
    // re-adding a deleted id would be silently swallowed by the
    // tombstone anti-join — fail loudly; compactLsh folds first
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      if (!spark.catalog.tableExists(s"graft_lsh_tombs_$tag") &&
          tombsServable(spark, base))
        registerExternal(spark, s"graft_lsh_tombs_$tag", s"$base/tombs",
          clusteredBy = Some(("vec_id", storageBuckets)))
      val clash = spark.table(s"graft_lsh_tombs_$tag")
        .join(newVecs.select("vec_id"), Seq("vec_id"), "left_semi").count()
      require(clash == 0L,
        s"upsertLsh: $clash incoming vec_id(s) are tombstoned — run " +
          "compactLsh to fold deletions before re-inserting those ids")
    }
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    lshBucketRows(newVecs, tables, bits).write.mode(SaveMode.Append)
      .bucketBy(storageBuckets, "tb").sortBy("tb")
      .format("parquet").saveAsTable(s"graft_lsh_buckets_$tag")
    saveByVecId(newVecs.select("vec_id", "embedding"),
      s"graft_lsh_vecs_$tag", storageBuckets)
    writeMetaFull(base,
      Seq("tables" -> tables.toLong, "bits" -> bits.toLong,
        "buckets" -> storageBuckets.toLong,
        "n_rows" -> (meta("n_rows") + nNew),
        "checksum" -> (meta("checksum") ^ fpNew)) ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        meta.get("last_del_batch_id")
          .map("last_del_batch_id" -> _).toSeq,
      // indexed-path identity grows with the upsert: a scan must cover
      // base AND tail relations to be served from the combined index.
      // Any stored snapshot_id is deliberately NOT carried over — the
      // layout is now AHEAD of the snapshot that id named, so the O(1)
      // ensureLsh fast path must not match it again.
      Seq("source_paths" -> joinPaths(
        (readMetaStrs(base).get("source_paths").map(splitPaths)
          .getOrElse(Nil) ++ relationPaths(newVecs)).distinct.sorted)))
    lshHandle(spark, tag, tables, bits)
  }

  /** Delete by id from the persisted LSH index — the float layout's
    * twin of [[deleteSq8]], closing the last lifecycle asymmetry (every
    * quantized layout deletes; the float LSH layout could not).
    * Merge-on-read vec_id tombstones; the served handle anti-joins
    * them on both sides (vecs co-bucketed, buckets via a broadcast of
    * the deletion-bounded tombstone set). A delete drops the stored
    * snapshot_id (the layout moved past the snapshot that id named)
    * but KEEPS `source_paths`: the index remains the authoritative
    * serving view of its source under the vector-store delete contract
    * (Pinecone `delete(ids=)` composed with `as_retriever()`,
    * `/root/reference/AI.py:138` — a user who deletes keeps querying
    * the same index), so the [[graft.plans.LshAnnPlan]] rewrite keeps
    * serving raw-source kNN through the index, tombstone anti-join
    * included — survivors-exact, never O(n) exact-scan degraded.
    * That contract is the rewrite's OPT-IN semantic: enabling
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
      batchId: Option[Long] = None): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = lshBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("tables") && meta.contains("buckets"),
      s"deleteLsh needs an existing persisted LSH index for " +
        s"'$sourceDir' — run ensureLsh first")
    val storageBuckets = meta("buckets").toInt
    require(parquetReadable(spark, s"$base/buckets") &&
      parquetReadable(spark, s"$base/vecs"),
      s"persisted LSH layout for '$sourceDir' is unreadable — run " +
        "ensureLsh to rebuild before deleting")
    if (!lshRegistered(spark, tag)) attachLsh(spark, tag, storageBuckets)
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed)
      return lshHandle(spark, tag, meta("tables").toInt,
        meta("bits").toInt)
    val batch = ids.select("vec_id").distinct()
    val nDel = batch.count()
    writeTombs(spark, base, s"graft_lsh_tombs_$tag", batch,
      storageBuckets)
    writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      // snapshot_id dropped (the layout moved past it); source_paths
      // KEPT — the tombstoned index stays the authoritative serving
      // view of its source, so the plan rewrite keeps accelerating
      // raw-source kNN (survivors-exact via the handle's anti-join)
      readMetaStrs(base).get("source_paths")
        .map("source_paths" -> _).toSeq)
    lshHandle(spark, tag, meta("tables").toInt, meta("bits").toInt)
  }

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
      storageBuckets: Int = 8): Boolean = {
    val meta = readMeta(lshBase(spark, IndexStore.pathTag(sourceDir)))
    meta.get("tables").contains(tables.toLong) &&
      meta.get("bits").contains(bits.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong)
  }

  /** Open an existing persisted LSH index read-only, WITHOUT a
    * freshness probe — the reader's path while a writer (e.g. a
    * [[graft.streaming.StreamOps.streamingIndexUpsert]] stream)
    * appends concurrently: no fingerprint scan, no rebuild decision,
    * just a catalog attach if this process hasn't one yet. The
    * operating point comes from the stored meta.
    */
  def openLsh(spark: SparkSession, sourceDir: String): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = lshBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("tables") && meta.contains("bits") &&
      meta.contains("buckets"),
      s"no persisted LSH index for '$sourceDir' ($base)")
    // readability (footer reads, not a freshness scan): a surviving
    // registration over a gutted dir would otherwise serve EMPTY tables
    require(parquetReadable(spark, s"$base/buckets") &&
      parquetReadable(spark, s"$base/vecs"),
      s"persisted LSH layout for '$sourceDir' is unreadable (crashed " +
        "compaction?) — run ensureLsh to rebuild")
    if (!lshRegistered(spark, tag))
      attachLsh(spark, tag, meta("buckets").toInt)
    else {
      // a writer in ANOTHER session (a streaming foreachBatch clone, a
      // concurrent process) invalidates only its own relation cache on
      // append — refresh so this reader's file listing is current
      spark.catalog.refreshTable(s"graft_lsh_buckets_$tag")
      spark.catalog.refreshTable(s"graft_lsh_vecs_$tag")
      // tombstones may have (dis)appeared under another session's
      // delete or fold — align with the store, DDL only on a change
      syncTombs(spark, base, s"graft_lsh_tombs_$tag",
        clusteredBy = Some(("vec_id", meta("buckets").toInt)))
    }
    lshHandle(spark, tag, meta("tables").toInt, meta("bits").toInt)
  }

  /** Compact the persisted LSH layout: a streaming upsert appends one
    * file set per micro-batch into each bucketed table, and file count
    * — not row count — is what erodes scan planning over time.
    * Rewrites both tables' IDENTICAL rows at the same (bucketing,
    * sort) spec; the meta (operating point, checksum, n_rows,
    * last_batch_id) is untouched, so every freshness and replay
    * contract keeps holding.
    *
    * Crash safety (the [[graft.sources.KeywordIndex.compactPostings]]
    * discipline): each compacted copy lands in a SIDE directory —
    * written through a temp catalog table, since bucketed writes go
    * through `saveAsTable` — and swaps in by directory rename. The two
    * tables hold identical logical content before and after, so a
    * crash BETWEEN their swaps still leaves a correct index (mixed
    * file layouts); a crash inside one rename window leaves that dir
    * missing: [[openLsh]] fails loudly, and [[ensureLsh]] treats the
    * unreadable layout as STALE and rebuilds (the recovery path);
    * leftover side/old dirs are swept by the next compaction. Not safe
    * concurrent with a writer — run between ingest windows.
    */
  def compactLsh(spark: SparkSession, sourceDir: String): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = lshBase(spark, tag)
    openLsh(spark, sourceDir) // validates meta + attaches + refreshes
    val meta = readMeta(base)
    val sb = meta("buckets").toInt
    // tombstone FOLD (the compactSq8 discipline): physically drop
    // deleted rows while rewriting; recompute the live fingerprint from
    // the folded vecs so upsert checksum composition stays coherent
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(s"graft_lsh_tombs_$tag")
    val tombFilter = (df: DataFrame) =>
      if (folding)
        df.join(spark.table(s"graft_lsh_tombs_$tag"), Seq("vec_id"),
          "left_anti")
      else df
    compactBucketed(spark, base, s"graft_lsh_buckets_$tag", "buckets",
      "tb", sb,
      Some(tombFilter(spark.table(s"graft_lsh_buckets_$tag"))))
    compactBucketed(spark, base, s"graft_lsh_vecs_$tag", "vecs",
      "vec_id", sb,
      Some(tombFilter(spark.table(s"graft_lsh_vecs_$tag"))))
    if (folding) dropTombs(spark, base, s"graft_lsh_tombs_$tag")
    attachLsh(spark, tag, sb)
    if (folding) {
      val (n, fp) = fingerprint(spark.table(s"graft_lsh_vecs_$tag")
        .select("vec_id", "embedding"))
      writeMetaFull(base,
        (meta - "n_rows" - "checksum" - "tomb_rows").toSeq ++
          Seq("n_rows" -> n, "checksum" -> fp),
        // source_paths survive the fold: the folded layout serves the
        // SAME survivor view the tombstoned one did, and the serving
        // contract (index authoritative over its source after deletes)
        // is what the rewrite's opt-in declared
        readMetaStrs(base).get("source_paths")
          .map("source_paths" -> _).toSeq)
    }
    lshHandle(spark, tag, meta("tables").toInt, meta("bits").toInt)
  }

  /** The compaction swap, shared by [[compactLsh]] and
    * [[KeywordIndex.compactPostings]]: live → pid-suffixed old, side →
    * live, delete old. A crash before the first rename leaves the live
    * layout intact; inside the two-rename window the live dir is
    * missing, which the next attach throws on and the `ensure*` paths
    * treat as STALE (rebuild) rather than unrecoverable.
    */
  private[sources] def swapDir(liveDir: String, sideDir: String): Unit = {
    val live = Paths.get(liveDir)
    val old = live.getParent.resolve(
      s"${live.getFileName}_old_${ProcessHandle.current.pid}")
    Files.move(live, old)
    Files.move(Paths.get(sideDir), live)
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
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

  /** Sweep the garbage a CRASHED earlier compaction left behind —
    * `<name>_old_*` / `<name>_compact_*` dirs under `baseDir`, whatever
    * pid wrote them. Without this each crashed compaction permanently
    * doubles the table's footprint, and a recycled pid could collide
    * with a leftover mid-swap.
    */
  private[sources] def sweepStaleCompaction(baseDir: String,
      name: String): Unit = {
    val b = Paths.get(baseDir)
    if (Files.exists(b)) {
      val it = Files.list(b)
      try it.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(s"${name}_old_") ||
            n.startsWith(s"${name}_compact_"))
          org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      } finally it.close()
    }
  }

  /** Build-or-reuse for a base + upserted-tail index: when the stored
    * meta already equals base ⊕ tail the layout is reused (or attached)
    * without touching data; otherwise the base is built and the tail
    * upserted — so repeated runs over immutable fixtures pay DDL, not
    * rebuild + re-append (which would also double the tail).
    */
  def ensureLshUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseRows: DataFrame,
      tailRows: DataFrame,
      tables: Int = 64,
      bits: Int = 12,
      storageBuckets: Int = 8): LshHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val (nb, fb) = fingerprint(baseRows.select("vec_id", "embedding"))
    val (nt, ft) = fingerprint(tailRows.select("vec_id", "embedding"))
    val ubase = lshBase(spark, tag)
    // a tombstoned layout fails ensure's "serve exactly base ⊕ tail"
    // contract — rebuild clears the deletions (the ensureLsh gate)
    val combinedFresh = lshMetaMatches(readMeta(ubase),
      tables, bits, storageBuckets, nb + nt, fb ^ ft) &&
      readMeta(ubase).get("tomb_rows").forall(_ == 0L) &&
      servable(spark, Seq(s"$ubase/buckets", s"$ubase/vecs"),
        lshRegistered(spark, tag),
        () => attachLsh(spark, tag, storageBuckets))
    if (!combinedFresh) {
      buildLsh(spark, tag, baseRows, tables, bits, storageBuckets, nb, fb)
      upsertLsh(spark, sourceDir, tailRows, tables, bits, storageBuckets)
    }
    lshHandle(spark, tag, tables, bits)
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

  final case class IvfHandle(centroids: DataFrame, lists: DataFrame)

  private def ivfBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_ivf_$tag"

  /** (Re)register the float-IVF tombstone table when its dir exists;
    * drop the registration when it doesn't (another session's fold).
    */
  private def ivfTombsRegistered(spark: SparkSession,
      tag: String): Boolean = {
    val base = ivfBase(spark, tag)
    if (!spark.catalog.tableExists(s"graft_ivf_tombs_$tag") &&
        tombsServable(spark, base))
      registerExternal(spark, s"graft_ivf_tombs_$tag", s"$base/tombs")
    spark.catalog.tableExists(s"graft_ivf_tombs_$tag")
  }

  /** The served float-IVF view: when tombstones exist the lists
    * anti-join them on vec_id via a broadcast of the deletion-bounded
    * set (the [[deleteLsh]] shape — this layout has no id-bucketed
    * side to ride, its lists carry the vectors themselves).
    */
  private def ivfServedHandle(spark: SparkSession,
      tag: String): IvfHandle = {
    val cents = ParquetIO.read(spark, s"${ivfBase(spark, tag)}/centroids")
    val lists = spark.table(s"graft_ivf_lists_$tag")
    if (ivfTombsRegistered(spark, tag))
      IvfHandle(cents, lists.join(
        broadcast(spark.table(s"graft_ivf_tombs_$tag")), Seq("vec_id"),
        "left_anti"))
    else IvfHandle(cents, lists)
  }

  /** Drift gate for [[upsertIvf]]: centroids are trained at build time
    * only, so recall erodes as the upserted tail grows relative to the
    * trained base (`n_base` in the meta). The gate bounds that
    * tail/base ratio (`spark.graft.ann.ivf.maxTailRatio`, default 1.0)
    * and fails LOUDLY when an upsert would cross it — a silently
    * degraded serving index is worse than a failed ingest batch.
    */
  private[sources] def ivfMaxTailRatio(spark: SparkSession): Double =
    spark.conf.get("spark.graft.ann.ivf.maxTailRatio", "1.0").toDouble

  /** Build (or reuse) the persisted IVF index: k-means centroids
    * (deterministic hash-draw seeding + Lloyd rounds, see
    * [[SimilaritySearch.kMeansCentroids]] — farthest-first/k-means++
    * seeding was measured to DEGRADE recall at sf0.1 by outlier-chasing,
    * the classic k-center failure; see the q37 operating-point notes in
    * PipelineQueries) and inverted lists partitioned by centroid, each
    * list row carrying its vector so a probe needs no second join.
    */
  def ensureIvf(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      lists: Int = 32,
      iters: Int = 5,
      snapshotId: Option[String] = None): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val listsTable = s"graft_ivf_lists_$tag"
    val centsPath = s"$base/centroids"
    def attach(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    }
    // the shared reuse-vs-rebuild probe ([[servable]]): footer-reads the
    // lists AND centroid layouts and re-attaches if needed, so an
    // unreadable layout (crashed build/compaction window) or a failing
    // attach reads as STALE → rebuild, never an eternally-throwing
    // fast path — the same hardened recovery contract as ensureLsh and
    // ensurePostings
    def ivfServable(): Boolean = servable(spark,
      Seq(s"$base/lists", centsPath),
      spark.catalog.tableExists(listsTable), () => attach())
    // O(1) snapshot-id freshness — same contract as [[ensureLsh]]:
    // a stored id equal to the caller's names the same immutable
    // content, so the fingerprint scan is skipped outright
    // a tombstoned layout no longer equals assign(source): deletions
    // force a rebuild which clears them (the ensureSq8 discipline)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists { id =>
      val meta = readMeta(base)
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        meta.get("lists").contains(lists.toLong) &&
        meta.get("iters").contains(iters.toLong)
    } && tombFree
    if (snapFresh && ivfServable()) {
      return ivfServedHandle(spark, tag)
    }
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val meta = readMeta(base)
    val metaFresh = meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) && tombFree &&
      ivfServable()
    if (!metaFresh) {
      // the rebuild clears deletions ("serve exactly this source");
      // the delete replay-skip window survives
      dropTombs(spark, base, s"graft_ivf_tombs_$tag")
      val cents = SimilaritySearch.kMeansCentroids(index, lists, iters)
      cents.write.mode(SaveMode.Overwrite).parquet(centsPath)
      val assigned = SimilaritySearch
        .assignWithVecs(index, ParquetIO.read(spark, centsPath))
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      assigned.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/lists")
        .partitionBy("centroid_id")
        .format("parquet").saveAsTable(listsTable)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
          "n_rows" -> n, "checksum" -> fp, "n_base" -> n) ++
          meta.get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    }
    if (metaFresh && snapshotId.isDefined)
      // content unchanged under a new snapshot name: record the id so
      // the next ensure at this snapshot is O(1)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
          "n_rows" -> n, "checksum" -> fp,
          "n_base" -> meta.getOrElse("n_base", n)) ++
          meta.get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    ivfServedHandle(spark, tag)
  }

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
      iters: Int = 5): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val listsTable = s"graft_ivf_lists_$tag"
    val centsPath = s"$base/centroids"
    val meta = readMeta(base)
    require(meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      Files.exists(Paths.get(centsPath)),
      s"upsertIvf needs an existing index at the same operating point " +
        s"(lists=$lists iters=$iters); found $meta")
    if (!spark.catalog.tableExists(listsTable)) {
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    }
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    // drift gate: pre-n_base metas (older layouts) treat the current
    // size as the trained base — the gate then bounds growth from here
    val nBase = meta.getOrElse("n_base", meta("n_rows"))
    val tailAfter = meta("n_rows") + nNew - nBase
    val maxRatio = ivfMaxTailRatio(spark)
    if (nBase > 0 && tailAfter > maxRatio * nBase)
      throw new IllegalStateException(
        f"upsertIvf drift gate: upserted tail would reach $tailAfter rows " +
          f"against a trained base of $nBase (ratio ${tailAfter.toDouble / nBase}%.2f " +
          f"> $maxRatio%.2f). Rebuild with ensureIvf to retrain centroids, " +
          "or raise spark.graft.ann.ivf.maxTailRatio.")
    // append-only + tombstone contract (the upsertSq8 discipline)
    if (meta.get("tomb_rows").exists(_ > 0L) &&
        ivfTombsRegistered(spark, tag)) {
      val clash = spark.table(s"graft_ivf_tombs_$tag")
        .join(newVecs.select("vec_id"), Seq("vec_id"), "left_semi").count()
      require(clash == 0L,
        s"upsertIvf: $clash incoming vec_id(s) are tombstoned — run " +
          "compactIvf to fold deletions before re-inserting those ids")
    }
    val assigned = SimilaritySearch
      .assignWithVecs(newVecs, ParquetIO.read(spark, centsPath))
    assigned.write.mode(SaveMode.Append)
      .partitionBy("centroid_id")
      .format("parquet").saveAsTable(listsTable)
    writeMeta(base, (Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
      "n_rows" -> (meta("n_rows") + nNew),
      "checksum" -> (meta("checksum") ^ fpNew),
      "n_base" -> nBase) ++
      meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
      meta.get("last_del_batch_id")
        .map("last_del_batch_id" -> _).toSeq): _*)
    ivfServedHandle(spark, tag)
  }

  /** True iff a persisted float-IVF layout exists for `sourceDir` AT
    * the given operating point (meta check only — the [[sq8Exists]]
    * contract; a tombstoned layout must be served through its handle,
    * not re-ensured).
    */
  def ivfExists(spark: SparkSession, sourceDir: String,
      lists: Int = 32, iters: Int = 5): Boolean = {
    val meta = readMeta(ivfBase(spark, IndexStore.pathTag(sourceDir)))
    meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong)
  }

  /** Delete by id from the persisted float-IVF index — the last layout
    * without the verb. Merge-on-read vec_id tombstones served through
    * a broadcast anti-join on the probed lists (this layout has no
    * id-bucketed side; the tombstone set is deletion-bounded). Ids
    * absent from the index are a semantic no-op; [[compactIvf]] folds
    * physically; re-inserting a deleted id fails loudly in
    * [[upsertIvf]]; a delete moves the layout past any named snapshot;
    * `batchId` replay-skip rides the delete counter.
    */
  def deleteIvf(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val listsTable = s"graft_ivf_lists_$tag"
    val meta = readMeta(base)
    require(meta.contains("lists"),
      s"deleteIvf needs an existing persisted IVF index for " +
        s"'$sourceDir' — run ensureIvf first")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/centroids"),
      s"persisted IVF layout for '$sourceDir' is unreadable — run " +
        "ensureIvf to rebuild before deleting")
    if (!spark.catalog.tableExists(listsTable))
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed) return ivfServedHandle(spark, tag)
    val batch = ids.select("vec_id").distinct()
    val nDel = batch.count()
    sweepOrphanTombs(spark, base, s"graft_ivf_tombs_$tag")
    if (ivfTombsRegistered(spark, tag))
      batch.write.mode(SaveMode.Append).format("parquet")
        .saveAsTable(s"graft_ivf_tombs_$tag")
    else
      batch.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/tombs")
        .format("parquet").saveAsTable(s"graft_ivf_tombs_$tag")
    writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil) // snapshot_id intentionally dropped: the layout moved past it
    ivfServedHandle(spark, tag)
  }

  /** Open an existing persisted float-IVF index read-only, WITHOUT a
    * freshness probe — the [[openSq8]] contract on the float layout
    * (the one open* verb that was missing): no fingerprint scan, no
    * rebuild decision, just a catalog attach/refresh. The reader's
    * path for a tombstoned layout, which deliberately fails
    * [[ensureIvf]]'s "serve exactly this source" freshness and must be
    * OPENED to keep serving its deletions.
    */
  def openIvf(spark: SparkSession, sourceDir: String): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists"),
      s"no persisted IVF index for '$sourceDir' ($base)")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/centroids"),
      s"persisted IVF layout for '$sourceDir' is unreadable (crashed " +
        "compaction?) — run ensureIvf to rebuild")
    val listsTable = s"graft_ivf_lists_$tag"
    if (!spark.catalog.tableExists(listsTable))
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    else {
      // a writer in another session invalidates only its own relation
      // cache — refresh so this reader's file listing is current; the
      // tombs registration aligns with the store (DDL only on change),
      // then ivfServedHandle picks it up
      spark.catalog.refreshTable(listsTable)
      syncTombs(spark, ivfBase(spark, tag), s"graft_ivf_tombs_$tag")
    }
    ivfServedHandle(spark, tag)
  }

  /** Build-or-reuse for a base + upserted-tail IVF index: reused (or
    * attached) when the stored meta equals base ⊕ tail; otherwise
    * k-means trains on the BASE only, then the tail is upserted against
    * the stored centroids — the shape a serving index lifecycle takes
    * (train at build time, assign-only on ingest).
    */
  def ensureIvfUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseRows: DataFrame,
      tailRows: DataFrame,
      lists: Int = 32,
      iters: Int = 5): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val listsTable = s"graft_ivf_lists_$tag"
    val centsPath = s"$base/centroids"
    val (nb, fb) = fingerprint(baseRows.select("vec_id", "embedding"))
    val (nt, ft) = fingerprint(tailRows.select("vec_id", "embedding"))
    val meta = readMeta(base)
    def attach(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    }
    // same servable() recovery probe as ensureIvf: an unreadable layout
    // or failing attach counts as stale → rebuild
    val combinedFresh = meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("n_rows").contains(nb + nt) &&
      meta.get("checksum").contains(fb ^ ft) &&
      meta.get("tomb_rows").forall(_ == 0L) &&
      servable(spark, Seq(s"$base/lists", centsPath),
        spark.catalog.tableExists(listsTable), () => attach())
    if (!combinedFresh) {
      // the rebuild clears deletions (the ensureIvf discipline)
      dropTombs(spark, base, s"graft_ivf_tombs_$tag")
      val cents = SimilaritySearch.kMeansCentroids(baseRows, lists, iters)
      cents.write.mode(SaveMode.Overwrite).parquet(centsPath)
      val assigned = SimilaritySearch
        .assignWithVecs(baseRows, ParquetIO.read(spark, centsPath))
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      assigned.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/lists")
        .partitionBy("centroid_id")
        .format("parquet").saveAsTable(listsTable)
      writeMeta(base, (Seq("lists" -> lists.toLong,
        "iters" -> iters.toLong,
        "n_rows" -> nb, "checksum" -> fb, "n_base" -> nb) ++
        meta.get("last_del_batch_id")
          .map("last_del_batch_id" -> _).toSeq): _*)
      upsertIvf(spark, sourceDir, tailRows, lists, iters)
    }
    ivfServedHandle(spark, tag)
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

  // ------------------------------------------------------ SQ8 / BQ codecs

  /** A per-row vector codec of the quantized serving layouts: flat
    * SQ8/BQ and the composed IVF-SQ8/IVF-BQ. Encoding reads no global
    * statistics (unlike IVF centroids or a trained product-quantizer
    * codebook), so encoding new rows is EXACTLY a rebuild restricted to
    * them — every upsert ≡ rebuild argument below rests on this. The
    * codec names its stores (`graft_ann_<stem>_<tag>`, catalog tables
    * `graft_<stem>_<table>_<tag>`; the IVF form prefixes `ivf`) and the
    * verb suffix and label its error messages carry.
    */
  private sealed abstract class Codec(val stem: String, val verb: String,
      val label: String) {
    /** (vec_id, embedding) → the flat layout's `codes` rows. */
    def encode(index: DataFrame): DataFrame
    /** (vec_id, embedding) → the IVF layout's `lists` rows: each vector
      * assigned to its nearest of `centroids` and encoded — the float
      * embedding never reaches the list layout.
      */
    def assign(index: DataFrame, centroids: DataFrame): DataFrame
  }

  /** int8 scalar quantization: (vec_id, codes binary, qscale, qnorm) —
    * 4× smaller than the float table, the bandwidth the quantized scan
    * saves at 100 TB.
    */
  private case object Sq8 extends Codec("sq8", "Sq8", "SQ8") {
    def encode(index: DataFrame): DataFrame =
      SimilaritySearch.quantizeIndex(index)
    def assign(index: DataFrame, centroids: DataFrame): DataFrame =
      SimilaritySearch.assignQuantized(index, centroids)
  }

  /** 1-bit sign packing: (vec_id, bcodes) — ⌈dim/8⌉ bytes per row, 32×
    * under float32 and 8× under SQ8.
    */
  private case object Bq extends Codec("bq", "Bq", "BQ") {
    def encode(index: DataFrame): DataFrame =
      SimilaritySearch.binarizeIndex(index)
    def assign(index: DataFrame, centroids: DataFrame): DataFrame =
      SimilaritySearch.assignBinary(index, centroids)
  }

  /** One codec layout over `sourceDir`: the flat form (`codes` bucketed
    * by vec_id) or the IVF form (`lists` partitioned by centroid_id,
    * plus plain-parquet `centroids`). Both keep `vecs` — the float
    * vectors bucketed by vec_id for the exact re-rank, fetched for the
    * m winners per query only — and merge-on-read `tombs`.
    */
  private final class CodecLayout(spark: SparkSession, c: Codec,
      sourceDir: String, ivf: Boolean) {
    private val stem = (if (ivf) "ivf" else "") + c.stem
    private val tag = IndexStore.pathTag(sourceDir)
    val verb = (if (ivf) "Ivf" else "") + c.verb
    val label = (if (ivf) "IVF-" else "") + c.label
    val base = s"${annBase(spark)}/graft_ann_${stem}_$tag"
    private val sub = if (ivf) "lists" else "codes"
    val scan = s"graft_${stem}_${sub}_$tag"
    val vecs = s"graft_${stem}_vecs_$tag"
    val tombs = s"graft_${stem}_tombs_$tag"
    val centroids = s"$base/centroids"
    /** The dirs a servable layout holds readable parquet in. */
    val dataDirs = Seq(s"$base/$sub", s"$base/vecs") ++
      (if (ivf) Seq(centroids) else Nil)

    def built(meta: Map[String, Long]): Boolean =
      (!ivf || meta.contains("lists")) && meta.contains("buckets")

    def registered: Boolean =
      spark.catalog.tableExists(scan) && spark.catalog.tableExists(vecs)

    def requireReadable(before: String): Unit =
      require(dataDirs.forall(parquetReadable(spark, _)),
        s"persisted $label layout for '$sourceDir' is unreadable — run " +
          s"ensure$verb to rebuild$before")

    /** Attach the on-disk layout written by an earlier process: DDL
      * only. Tombs register only when the meta committed them.
      */
    def attach(storageBuckets: Int): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $scan")
      spark.sql(s"DROP TABLE IF EXISTS $vecs")
      spark.sql(s"DROP TABLE IF EXISTS $tombs")
      if (ivf)
        registerExternal(spark, scan, s"$base/lists",
          partitionedBy = Some("centroid_id"))
      else
        registerExternal(spark, scan, s"$base/codes",
          clusteredBy = Some(("vec_id", storageBuckets)))
      registerExternal(spark, vecs, s"$base/vecs",
        clusteredBy = Some(("vec_id", storageBuckets)))
      if (tombsServable(spark, base))
        registerExternal(spark, tombs, s"$base/tombs",
          clusteredBy = Some(("vec_id", storageBuckets)))
    }

    /** The read-only open, WITHOUT a freshness probe — the reader's path
      * while a writer (e.g. a
      * [[graft.streaming.StreamOps.streamingSq8Upsert]] or
      * [[graft.streaming.StreamOps.streamingIvfSq8Upsert]] stream)
      * appends concurrently: no fingerprint scan, no rebuild decision,
      * just a catalog attach, or a relation-cache refresh so another
      * session's appends become visible.
      */
    def open(): Unit = {
      val meta = readMeta(base)
      require(built(meta),
        s"no persisted $label index for '$sourceDir' ($base)")
      requireReadable("")
      if (!registered) attach(meta("buckets").toInt)
      else {
        spark.catalog.refreshTable(scan)
        spark.catalog.refreshTable(vecs)
        // tombstones may have (dis)appeared under another session's
        // delete or fold — align with the store, DDL only on a change
        syncTombs(spark, base, tombs,
          clusteredBy = Some(("vec_id", meta("buckets").toInt)))
      }
    }
  }

  /** Land `df` in a vec_id-bucketed catalog table: with `path` a build
    * (Overwrite at that dir), without one an append of one more file set.
    */
  private def saveByVecId(df: DataFrame, table: String, buckets: Int,
      path: Option[String] = None): Unit =
    path.fold(df.write.mode(SaveMode.Append))(p =>
        df.write.mode(SaveMode.Overwrite).option("path", p))
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .format("parquet").saveAsTable(table)

  /** Attach the tombstone table when the meta committed it but this
    * session's catalog lacks the registration (tombs written by another
    * session while the layout's other tables were already registered
    * here). No-op when already registered or nothing is committed.
    */
  private def registerCommittedTombs(spark: SparkSession,
      base: String, table: String, storageBuckets: Int): Unit =
    if (!spark.catalog.tableExists(table) && tombsServable(spark, base))
      registerExternal(spark, table, s"$base/tombs",
        clusteredBy = Some(("vec_id", storageBuckets)))

  /** Append-only + tombstone contract of the upsert verbs: re-adding a
    * deleted id would be silently swallowed by the tombstone anti-join —
    * fail loudly; fold the tombstones first (`compact<verb>`) if
    * re-insertion is intended. The tombs may have been committed by
    * ANOTHER session while this one already held the layout's
    * registration, so the registration is re-derived first. The probe
    * is batch-sized (broadcast semi-join), not index-sized.
    */
  private def refuseTombstoned(spark: SparkSession, base: String,
      table: String, verb: String, meta: Map[String, Long],
      newVecs: DataFrame, storageBuckets: Int): Unit =
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      registerCommittedTombs(spark, base, table, storageBuckets)
      val clash = spark.table(table)
        .join(newVecs.select("vec_id"), Seq("vec_id"), "left_semi").count()
      require(clash == 0L,
        s"upsert$verb: $clash incoming vec_id(s) are tombstoned — run " +
          s"compact$verb to fold deletions before re-inserting those ids")
    }

  // --------------------------------------------- flat SQ8 / BQ lifecycle

  /** Persisted flat quantized index (SQ8 or BQ): `codes` is the scan
    * table of codec rows, `vecs` the float vectors co-bucketed by vec_id
    * for the exact re-rank.
    */
  final case class CodesHandle(codes: DataFrame, vecs: DataFrame)

  private def flatLayout(c: Codec, spark: SparkSession, sourceDir: String) =
    new CodecLayout(spark, c, sourceDir, ivf = false)

  /** The served view: when a tombstone table exists, BOTH sides carry
    * the anti-join against it (the codes side is what excludes deleted
    * ids from candidates; the vecs side keeps any direct consumer of
    * the float table honest too). Tombs share the vec_id bucketing, so
    * the anti-joins are shuffle-free on the index side.
    */
  private def flatHandle(spark: SparkSession, l: CodecLayout): CodesHandle = {
    val codes = spark.table(l.scan)
    val vecs = spark.table(l.vecs)
    if (spark.catalog.tableExists(l.tombs)) {
      val tombs = spark.table(l.tombs)
      CodesHandle(codes.join(tombs, Seq("vec_id"), "left_anti"),
        vecs.join(tombs, Seq("vec_id"), "left_anti"))
    } else CodesHandle(codes, vecs)
  }

  /** Build (or reuse) the persisted flat layout over `index(vec_id,
    * embedding)`: encoding is one per-row projection pass; both tables
    * land bucketed by vec_id through the catalog (co-located, so the
    * re-rank id-join against `vecs` is shuffle-free on the index side).
    * Freshness follows the `ensureLsh` discipline — O(1) snapshot-id
    * trust when the caller names an immutable source snapshot, else the
    * content fingerprint; the shared `servable` recovery probe (a
    * crashed compaction's unreadable layout reads as STALE and
    * rebuilds); meta committed atomically after the data. A tombstoned
    * layout fails freshness ("serve exactly this source") and rebuilds,
    * clearing the deletions. [[upsertFlat]] and [[deleteFlat]] drop a
    * stored snapshot id (the layout moves past the snapshot that id
    * named).
    */
  private def ensureFlat(c: Codec, spark: SparkSession, sourceDir: String,
      index: DataFrame, storageBuckets: Int,
      snapshotId: Option[String]): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    val base = l.base
    def serv(): Boolean = servable(spark, l.dataDirs, l.registered,
      () => l.attach(storageBuckets))
    // a tombstoned layout no longer equals encode(source): deleteFlat
    // also drops the stored snapshot_id, this is the content-path twin
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists { id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        readMeta(base).get("buckets").contains(storageBuckets.toLong)
    } && tombFree
    if (snapFresh && serv()) return flatHandle(spark, l)
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val metaFresh = {
      val meta = readMeta(base)
      meta.get("buckets").contains(storageBuckets.toLong) &&
        meta.get("n_rows").contains(n) &&
        meta.get("checksum").contains(fp)
    } && tombFree && serv()
    if (!metaFresh) {
      dropTombs(spark, base, l.tombs)
      spark.sql(s"DROP TABLE IF EXISTS ${l.scan}")
      saveByVecId(c.encode(index.select("vec_id", "embedding")), l.scan,
        storageBuckets, Some(s"$base/codes"))
      spark.sql(s"DROP TABLE IF EXISTS ${l.vecs}")
      saveByVecId(index.select("vec_id", "embedding"), l.vecs,
        storageBuckets, Some(s"$base/vecs"))
    }
    // (re)commit the meta when we rebuilt, OR when unchanged content
    // arrives under a new snapshot name — recording the id makes the
    // NEXT ensure at this snapshot O(1)
    if (!metaFresh || snapshotId.isDefined) {
      val old = readMeta(base)
      writeMetaFull(base,
        Seq("buckets" -> storageBuckets.toLong,
          "n_rows" -> n, "checksum" -> fp) ++
          // both replay-skip windows survive a rebuild (the buildLsh
          // discipline: a rebuild between a streaming crash and its
          // replay must not reopen them) — tomb_rows does NOT (the
          // rebuild cleared them)
          old.get("last_batch_id").map("last_batch_id" -> _).toSeq ++
          old.get("last_del_batch_id").map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    }
    flatHandle(spark, l)
  }

  /** Incremental add into an existing persisted flat index: the codec
    * is per-row, so an upsert is EXACTLY a rebuild restricted to the new
    * rows — encode the new vectors, append to both tables, xor-compose
    * the checksum: O(new) per batch, upsert ≡ rebuild row-identically
    * by construction. Append-only contract (a tombstoned id is refused,
    * see [[refuseTombstoned]]) and `batchId` replay-skip as in
    * [[upsertLsh]].
    */
  private def upsertFlat(c: Codec, spark: SparkSession, sourceDir: String,
      newVecs: DataFrame, storageBuckets: Int,
      batchId: Option[Long]): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    require(meta.get("buckets").contains(storageBuckets.toLong),
      s"upsert${l.verb} needs an existing index at the same layout " +
        s"(buckets=$storageBuckets); found $meta")
    l.requireReadable(" before upserting")
    if (!l.registered) l.attach(storageBuckets)
    if (batchId.exists(id => meta.get("last_batch_id").exists(id <= _)))
      return flatHandle(spark, l)
    refuseTombstoned(spark, l.base, l.tombs, l.verb, meta, newVecs,
      storageBuckets)
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    saveByVecId(c.encode(newVecs.select("vec_id", "embedding")), l.scan,
      storageBuckets)
    saveByVecId(newVecs.select("vec_id", "embedding"), l.vecs,
      storageBuckets)
    writeMetaFull(l.base,
      Seq("buckets" -> storageBuckets.toLong,
        "n_rows" -> (meta("n_rows") + nNew),
        "checksum" -> (meta("checksum") ^ fpNew)) ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        meta.get("last_del_batch_id").map("last_del_batch_id" -> _).toSeq,
      Nil)
    flatHandle(spark, l)
  }

  /** Delete by id from the persisted flat index — the vector-store
    * lifecycle verb the reference's stack exposes as Pinecone's
    * `delete(ids=...)` (public API). Merge-on-read tombstones, the only
    * delete that scales: the batch of ids is APPENDED to a tombstone
    * table co-bucketed with the codes/vecs pair (O(batch) work, no
    * index rewrite, see [[writeTombs]]), and every served handle
    * anti-joins it — shuffle-free on the index side thanks to the shared
    * bucketing. [[compactFlat]] later folds tombstones into the base
    * (physically removes the rows and resets the live fingerprint);
    * until then re-inserting a deleted id fails loudly in
    * [[upsertFlat]].
    *
    * Deleting ids absent from the index (or already deleted) is a
    * semantic no-op — the anti-join ignores them. A delete moves the
    * layout past any named snapshot (stored `snapshot_id` is dropped)
    * and past the source content (`ensure*` over the original source
    * rebuilds — "serve exactly this source" clears deletions by
    * contract). `batchId` gives streaming delete feeds the same
    * replay-skip contract as [[upsertFlat]], on its own counter
    * (`last_del_batch_id`) so interleaved upsert/delete streams don't
    * mask each other.
    */
  private def deleteFlat(c: Codec, spark: SparkSession, sourceDir: String,
      ids: DataFrame, batchId: Option[Long]): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    require(l.built(meta),
      s"delete${l.verb} needs an existing persisted ${l.label} index for " +
        s"'$sourceDir' — run ensure${l.verb} first")
    val storageBuckets = meta("buckets").toInt
    l.requireReadable(" before deleting")
    if (!l.registered) l.attach(storageBuckets)
    if (batchId.exists(id => meta.get("last_del_batch_id").exists(id <= _)))
      return flatHandle(spark, l)
    val batch = ids.select("vec_id").distinct()
    val nDel = batch.count()
    writeTombs(spark, l.base, l.tombs, batch, storageBuckets)
    writeMetaFull(l.base,
      Seq("buckets" -> meta("buckets"),
        "n_rows" -> meta("n_rows"),
        "checksum" -> meta("checksum"),
        "tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        meta.get("last_batch_id").map("last_batch_id" -> _).toSeq ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil) // snapshot_id intentionally dropped: the layout moved past it
    flatHandle(spark, l)
  }

  /** True iff a persisted flat layout exists for `sourceDir` (meta
    * present — no readability or freshness probe). Lets callers branch
    * build-vs-open explicitly instead of catching the open verb's
    * deliberately fail-loud errors, which must keep distinguishing
    * "never built" from "unreadable crashed layout".
    */
  private def existsFlat(c: Codec, spark: SparkSession,
      sourceDir: String): Boolean =
    readMeta(flatLayout(c, spark, sourceDir).base).contains("buckets")

  private def openFlat(c: Codec, spark: SparkSession,
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
    * then recomputes the live fingerprint from the folded vecs (upsert
    * checksum composition stays coherent), resets tomb_rows; both
    * replay-skip windows survive.
    *
    * Crash safety (the [[compactLsh]] / [[KeywordIndex.compactPostings]]
    * discipline): each compacted copy lands in a SIDE directory and
    * swaps in by rename. A crash between the two tables' swaps leaves a
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
  private def compactFlat(c: Codec, spark: SparkSession,
      sourceDir: String): CodesHandle = {
    val l = flatLayout(c, spark, sourceDir)
    val base = l.base
    l.open() // validates meta + attaches + refreshes
    val meta = readMeta(base)
    val sb = meta("buckets").toInt
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(l.tombs)
    val tombFilter = (df: DataFrame) =>
      if (folding) df.join(spark.table(l.tombs), Seq("vec_id"), "left_anti")
      else df
    compactBucketed(spark, base, l.scan, "codes", "vec_id", sb,
      Some(tombFilter(spark.table(l.scan))))
    compactBucketed(spark, base, l.vecs, "vecs", "vec_id", sb,
      Some(tombFilter(spark.table(l.vecs))))
    if (folding) dropTombs(spark, base, l.tombs)
    l.attach(sb)
    if (folding) {
      val (n, fp) = fingerprint(
        spark.table(l.vecs).select("vec_id", "embedding"))
      writeMetaFull(base,
        Seq("buckets" -> sb.toLong, "n_rows" -> n, "checksum" -> fp) ++
          meta.get("last_batch_id").map("last_batch_id" -> _).toSeq ++
          meta.get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        Nil)
    }
    flatHandle(spark, l)
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

  private def pqBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_pq_$tag"

  private def pqRegistered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(s"graft_pq_codebook_$tag") &&
      spark.catalog.tableExists(s"graft_pq_codes_$tag") &&
      spark.catalog.tableExists(s"graft_pq_vecs_$tag")

  private def attachPq(spark: SparkSession, tag: String,
      storageBuckets: Int): Unit = {
    val base = pqBase(spark, tag)
    Seq("codebook", "codes", "vecs").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_pq_${t}_$tag"))
    registerExternal(spark, s"graft_pq_codebook_$tag", s"$base/codebook")
    registerExternal(spark, s"graft_pq_codes_$tag", s"$base/codes",
      clusteredBy = Some(("vec_id", storageBuckets)))
    registerExternal(spark, s"graft_pq_vecs_$tag", s"$base/vecs",
      clusteredBy = Some(("vec_id", storageBuckets)))
  }

  private def pqHandle(spark: SparkSession, tag: String,
      meta: Map[String, Long]): PqHandle =
    PqHandle(spark.table(s"graft_pq_codebook_$tag"),
      spark.table(s"graft_pq_codes_$tag"),
      spark.table(s"graft_pq_vecs_$tag"),
      meta("num_sub").toInt, meta("ksub").toInt)

  /** Build (or reuse) the persisted PQ layout: train per-subspace
    * codebooks ([[SimilaritySearch.pqCodebooks]]), encode every vector
    * to `numSub` bytes with the trained model (per-row native
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
      snapshotId: Option[String] = None): PqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = pqBase(spark, tag)
    val dirs = Seq(s"$base/codebook", s"$base/codes", s"$base/vecs")
    def opFresh(meta: Map[String, Long]): Boolean =
      meta.get("buckets").contains(storageBuckets.toLong) &&
        meta.get("num_sub").contains(numSub.toLong) &&
        meta.get("ksub").contains(ksub.toLong) &&
        meta.get("iters").contains(iters.toLong)
    val snapFresh = snapshotId.exists { id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(readMeta(base))
    }
    if (snapFresh && servable(spark, dirs, pqRegistered(spark, tag),
        () => attachPq(spark, tag, storageBuckets)))
      return pqHandle(spark, tag, readMeta(base))
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val metaFresh = {
      val meta = readMeta(base)
      opFresh(meta) && meta.get("n_rows").contains(n) &&
        meta.get("checksum").contains(fp)
    } && servable(spark, dirs, pqRegistered(spark, tag),
      () => attachPq(spark, tag, storageBuckets))
    if (!metaFresh) {
      import graft.functions.expressions.PqExpressions.pq_encode
      val cb = SimilaritySearch.pqCodebooks(
        index.select("vec_id", "embedding"), numSub, ksub, iters)
      spark.sql(s"DROP TABLE IF EXISTS graft_pq_codebook_$tag")
      cb.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/codebook")
        .format("parquet").saveAsTable(s"graft_pq_codebook_$tag")
      // encode with the JUST-PERSISTED codebook so codes and stored
      // model can never diverge (a re-trained in-memory cb after a
      // crash would otherwise silently mismatch)
      val flat = SimilaritySearch.collectCodebook(
        spark.table(s"graft_pq_codebook_$tag"), numSub, ksub)
      spark.sql(s"DROP TABLE IF EXISTS graft_pq_codes_$tag")
      index.select(col("vec_id"),
          pq_encode(col("embedding"), flat, numSub, ksub).as("pqcodes"),
          graft.functions.VectorOps.l2Norm(col("embedding")).as("pnorm"))
        .write.mode(SaveMode.Overwrite)
        .option("path", s"$base/codes")
        .bucketBy(storageBuckets, "vec_id").sortBy("vec_id")
        .format("parquet").saveAsTable(s"graft_pq_codes_$tag")
      spark.sql(s"DROP TABLE IF EXISTS graft_pq_vecs_$tag")
      saveByVecId(index.select("vec_id", "embedding"), s"graft_pq_vecs_$tag",
        storageBuckets, Some(s"$base/vecs"))
    }
    if (!metaFresh || snapshotId.isDefined)
      writeMetaFull(base,
        Seq("buckets" -> storageBuckets.toLong, "num_sub" -> numSub.toLong,
          "ksub" -> ksub.toLong, "iters" -> iters.toLong,
          "n_rows" -> n, "checksum" -> fp),
        snapshotId.map("snapshot_id" -> _).toSeq)
    pqHandle(spark, tag, readMeta(base))
  }

  /** Open an existing persisted PQ index read-only (no freshness probe
    * — the `openSq8` contract). */
  def openPq(spark: SparkSession, sourceDir: String): PqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = pqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("num_sub"),
      s"no persisted PQ index for '$sourceDir' ($base)")
    require(Seq("codebook", "codes", "vecs")
        .forall(d => parquetReadable(spark, s"$base/$d")),
      s"persisted PQ layout for '$sourceDir' is unreadable — run " +
        "ensurePq to rebuild")
    if (!pqRegistered(spark, tag))
      attachPq(spark, tag, meta("buckets").toInt)
    else Seq("codebook", "codes", "vecs").foreach(t =>
      spark.catalog.refreshTable(s"graft_pq_${t}_$tag"))
    pqHandle(spark, tag, meta)
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
    import graft.functions.expressions.PqExpressions.{pq_adc_dot, pq_table}
    import graft.functions.expressions.TopKAgg.top_k
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    val flat = SimilaritySearch.collectCodebook(handle.codebook,
      handle.numSub, handle.ksub)
    val qt = broadcast(queries.select(col("query_id"),
      pq_table(col("query_vec"), flat, handle.numSub, handle.ksub)
        .as("adc"),
      graft.functions.VectorOps.l2Norm(col("query_vec")).as("qqnorm")))
    val cand = handle.codes.crossJoin(qt)
      .withColumn("ascore",
        when(col("pnorm") * col("qqnorm") === 0.0, lit(0.0))
          .otherwise(pq_adc_dot(col("pqcodes"), col("adc"))
            / (col("pnorm") * col("qqnorm"))))
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("vec_id"), m).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("vec_id"))
    SimilaritySearch.rerank(cand, queries, handle.vecs, k)
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

  private def opqBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_opq_$tag"

  private def opqRegistered(spark: SparkSession, tag: String): Boolean =
    Seq("rotation", "codebook", "codes", "vecs").forall(t =>
      spark.catalog.tableExists(s"graft_opq_${t}_$tag"))

  private def attachOpq(spark: SparkSession, tag: String,
      storageBuckets: Int): Unit = {
    val base = opqBase(spark, tag)
    Seq("rotation", "codebook", "codes", "vecs").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_opq_${t}_$tag"))
    registerExternal(spark, s"graft_opq_rotation_$tag", s"$base/rotation")
    registerExternal(spark, s"graft_opq_codebook_$tag", s"$base/codebook")
    registerExternal(spark, s"graft_opq_codes_$tag", s"$base/codes",
      clusteredBy = Some(("vec_id", storageBuckets)))
    registerExternal(spark, s"graft_opq_vecs_$tag", s"$base/vecs",
      clusteredBy = Some(("vec_id", storageBuckets)))
  }

  private def opqHandle(spark: SparkSession, tag: String,
      meta: Map[String, Long]): OpqHandle =
    OpqHandle(spark.table(s"graft_opq_rotation_$tag"),
      spark.table(s"graft_opq_codebook_$tag"),
      spark.table(s"graft_opq_codes_$tag"),
      spark.table(s"graft_opq_vecs_$tag"),
      meta("num_sub").toInt, meta("ksub").toInt)

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

  /** Build (or reuse) the persisted OPQ layout: fit the rotation (ONE
    * second-moment pass + driver Jacobi), persist it FIRST, then train
    * and encode PQ over vectors rotated by the JUST-PERSISTED model
    * (the ensurePq crash-consistency rule: codes and stored model can
    * never diverge). Codes carry the rotated norm; `vecs` stores the
    * original floats.
    */
  def ensureOpq(
      spark: SparkSession,
      sourceDir: String,
      index: DataFrame,
      numSub: Int = 16,
      ksub: Int = 64,
      iters: Int = 2,
      storageBuckets: Int = 8,
      snapshotId: Option[String] = None): OpqHandle = {
    import graft.operators.SimilaritySearch
    val tag = IndexStore.pathTag(sourceDir)
    val base = opqBase(spark, tag)
    val dirs = Seq(s"$base/rotation", s"$base/codebook", s"$base/codes",
      s"$base/vecs")
    def opFresh(meta: Map[String, Long]): Boolean =
      meta.get("buckets").contains(storageBuckets.toLong) &&
        meta.get("num_sub").contains(numSub.toLong) &&
        meta.get("ksub").contains(ksub.toLong) &&
        meta.get("iters").contains(iters.toLong)
    val snapFresh = snapshotId.exists { id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(readMeta(base))
    }
    if (snapFresh && servable(spark, dirs, opqRegistered(spark, tag),
        () => attachOpq(spark, tag, storageBuckets)))
      return opqHandle(spark, tag, readMeta(base))
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val metaFresh = {
      val meta = readMeta(base)
      opFresh(meta) && meta.get("n_rows").contains(n) &&
        meta.get("checksum").contains(fp)
    } && servable(spark, dirs, opqRegistered(spark, tag),
      () => attachOpq(spark, tag, storageBuckets))
    if (!metaFresh) {
      import graft.functions.expressions.PqExpressions.pq_encode
      import spark.implicits._
      val model = SimilaritySearch.rotationModel(
        index.select("vec_id", "embedding"))
      val d = model.dim
      // parametric-OPQ eigenvalue allocation: permute the rotation's
      // rows so per-subspace variance balances — a bare PCA rotation
      // CONCENTRATES energy into subspace 0 and makes PQ worse (Ge et
      // al. §4; AnnTune `opq` measures both variants)
      val order = SimilaritySearch.balancedOrder(model.eigvals, numSub)
      spark.sql(s"DROP TABLE IF EXISTS graft_opq_rotation_$tag")
      (0 until d).map { r =>
        val src = order(r)
        (r, model.rot.slice(src * d, (src + 1) * d).toSeq,
          model.eigvals(src))
      }
        .toDF("row_idx", "vals", "eig")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .option("path", s"$base/rotation")
        .format("parquet").saveAsTable(s"graft_opq_rotation_$tag")
      // rotate with the JUST-PERSISTED model; train + encode on the
      // rotated frame
      val stored = loadRotation(spark.table(s"graft_opq_rotation_$tag"))
      val rotated = SimilaritySearch.rotate(
          index.select("vec_id", "embedding"), stored)
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .localCheckpoint(true)
      val cb = SimilaritySearch.pqCodebooks(rotated, numSub, ksub, iters)
      spark.sql(s"DROP TABLE IF EXISTS graft_opq_codebook_$tag")
      cb.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/codebook")
        .format("parquet").saveAsTable(s"graft_opq_codebook_$tag")
      val flat = SimilaritySearch.collectCodebook(
        spark.table(s"graft_opq_codebook_$tag"), numSub, ksub)
      spark.sql(s"DROP TABLE IF EXISTS graft_opq_codes_$tag")
      rotated.select(col("vec_id"),
          pq_encode(col("embedding"), flat, numSub, ksub).as("pqcodes"),
          graft.functions.VectorOps.l2Norm(col("embedding")).as("pnorm"))
        .write.mode(SaveMode.Overwrite)
        .option("path", s"$base/codes")
        .bucketBy(storageBuckets, "vec_id").sortBy("vec_id")
        .format("parquet").saveAsTable(s"graft_opq_codes_$tag")
      spark.sql(s"DROP TABLE IF EXISTS graft_opq_vecs_$tag")
      saveByVecId(index.select("vec_id", "embedding"), s"graft_opq_vecs_$tag",
        storageBuckets, Some(s"$base/vecs"))
    }
    if (!metaFresh || snapshotId.isDefined)
      writeMetaFull(base,
        Seq("buckets" -> storageBuckets.toLong, "num_sub" -> numSub.toLong,
          "ksub" -> ksub.toLong, "iters" -> iters.toLong,
          "n_rows" -> n, "checksum" -> fp),
        snapshotId.map("snapshot_id" -> _).toSeq)
    opqHandle(spark, tag, readMeta(base))
  }

  /** True iff a persisted OPQ layout exists at the operating point
    * (meta check only — the ivfExists contract).
    */
  def opqExists(spark: SparkSession, sourceDir: String,
      numSub: Int = 16, ksub: Int = 64): Boolean = {
    val meta = readMeta(opqBase(spark, IndexStore.pathTag(sourceDir)))
    meta.get("num_sub").contains(numSub.toLong) &&
      meta.get("ksub").contains(ksub.toLong)
  }

  /** Open an existing persisted OPQ index read-only (no freshness
    * probe — the openSq8 contract).
    */
  def openOpq(spark: SparkSession, sourceDir: String): OpqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = opqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("num_sub"),
      s"no persisted OPQ index for '$sourceDir' ($base)")
    require(Seq("rotation", "codebook", "codes", "vecs")
        .forall(d => parquetReadable(spark, s"$base/$d")),
      s"persisted OPQ layout for '$sourceDir' is unreadable — run " +
        "ensureOpq to rebuild")
    if (!opqRegistered(spark, tag))
      attachOpq(spark, tag, meta("buckets").toInt)
    else Seq("rotation", "codebook", "codes", "vecs").foreach(t =>
      spark.catalog.refreshTable(s"graft_opq_${t}_$tag"))
    opqHandle(spark, tag, meta)
  }

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
    import graft.functions.expressions.PqExpressions.{pq_adc_dot, pq_table}
    import graft.functions.expressions.TopKAgg.top_k
    import graft.operators.SimilaritySearch
    require(m >= k, s"candidate count m ($m) must be >= k ($k)")
    val model = loadRotation(handle.rotation)
    val rq = SimilaritySearch.rotate(queries, model, "query_vec")
      .withColumn("query_vec", col("query_vec").cast("array<float>"))
    val flat = SimilaritySearch.collectCodebook(handle.codebook,
      handle.numSub, handle.ksub)
    val qt = broadcast(rq.select(col("query_id"),
      pq_table(col("query_vec"), flat, handle.numSub, handle.ksub)
        .as("adc"),
      graft.functions.VectorOps.l2Norm(col("query_vec")).as("qqnorm")))
    val cand = handle.codes.crossJoin(qt)
      .withColumn("ascore",
        when(col("pnorm") * col("qqnorm") === 0.0, lit(0.0))
          .otherwise(pq_adc_dot(col("pqcodes"), col("adc"))
            / (col("pnorm") * col("qqnorm"))))
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("vec_id"), m).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("vec_id"))
    SimilaritySearch.rerank(cand, queries, handle.vecs, k)
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

  private def opqIvfPqBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_opqivfpq_$tag"

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
    import graft.operators.SimilaritySearch
    import spark.implicits._
    val tag = IndexStore.pathTag(sourceDir)
    val base = opqIvfPqBase(spark, tag)
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
      readMeta(ivfPqBase(spark, IndexStore.pathTag(innerKey)))
        .get("tomb_rows").forall(_ == 0L)
    if (!fresh) {
      val model = SimilaritySearch.rotationModel(
        index.select("vec_id", "embedding"))
      val d = model.dim
      val order = SimilaritySearch.balancedOrder(model.eigvals, numSub)
      val side = s"$base/rotation__build_${ProcessHandle.current.pid}"
      (0 until d).map { r =>
        val src = order(r)
        (r, model.rot.slice(src * d, (src + 1) * d).toSeq,
          model.eigvals(src))
      }.toDF("row_idx", "vals", "eig")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(side)
      val rotDir = Paths.get(base, "rotation")
      if (Files.exists(rotDir))
        org.apache.commons.io.FileUtils.deleteDirectory(rotDir.toFile)
      Files.move(Paths.get(side), rotDir)
      val stored = loadRotation(ParquetIO.read(spark, s"$base/rotation"))
      val rotated = SimilaritySearch.rotate(
          index.select("vec_id", "embedding"), stored)
        .withColumn("embedding", col("embedding").cast("array<float>"))
        .localCheckpoint(true)
      ensureIvfPq(spark, innerKey, rotated, lists = lists,
        iters = iters, numSub = numSub, ksub = ksub, pqIters = pqIters,
        storageBuckets = storageBuckets)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "num_sub" -> numSub.toLong,
          "ksub" -> ksub.toLong, "n_rows" -> n, "checksum" -> fp), Nil)
    }
    OpqIvfPqHandle(ParquetIO.read(spark, s"$base/rotation"),
      openIvfPq(spark, innerKey), innerKey)
  }

  /** Open without a freshness probe (the openSq8 contract). */
  def openOpqIvfPq(spark: SparkSession,
      sourceDir: String): OpqIvfPqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = opqIvfPqBase(spark, tag)
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
    val meta = readMeta(opqIvfPqBase(spark, IndexStore.pathTag(sourceDir)))
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
      m: Int = 64): DataFrame = {
    import graft.operators.SimilaritySearch
    val model = loadRotation(handle.rotation)
    val rq = SimilaritySearch.rotate(queries, model, "query_vec")
      .withColumn("query_vec", col("query_vec").cast("array<float>"))
    queryIvfPq(rq, handle.inner, k, nProbe, m)
  }

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
    import graft.operators.SimilaritySearch
    val tag = IndexStore.pathTag(sourceDir)
    val base = opqIvfPqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("num_sub") &&
      parquetReadable(spark, s"$base/rotation"),
      s"upsertOpqIvfPq needs an existing OPQ-IVF-PQ layout for " +
        s"'$sourceDir' — run ensureOpqIvfPq first")
    val innerKey = opqIvfPqInnerKey(sourceDir)
    val replayed = batchId.exists(id =>
      readMeta(ivfPqBase(spark, IndexStore.pathTag(innerKey)))
        .get("last_batch_id").exists(id <= _))
    if (replayed) return openOpqIvfPq(spark, sourceDir)
    val model = loadRotation(ParquetIO.read(spark, s"$base/rotation"))
    val rotated = SimilaritySearch.rotate(
        newVecs.select("vec_id", "embedding"), model)
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .localCheckpoint(true)
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    // invalidate-before-append: a checksum-less outer meta is
    // un-matchable by ensure, so every crash point below forces the
    // safe rebuild instead of serving an inner store that is ahead of
    // the outer fingerprint
    val fpOld = meta.get("checksum")
    writeMetaFull(base, (meta - "checksum").toSeq, Nil)
    upsertIvfPq(spark, innerKey, rotated, batchId)
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
    val base = opqIvfPqBase(spark, IndexStore.pathTag(sourceDir))
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

  // ------------------------------------------- IVF-SQ8 / IVF-BQ lifecycle

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

  private def ivfLayout(c: Codec, spark: SparkSession, sourceDir: String) =
    new CodecLayout(spark, c, sourceDir, ivf = true)

  private def ivfOpPoint(meta: Map[String, Long], lists: Int, iters: Int,
      storageBuckets: Int): Boolean =
    meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong)

  /** The served IVF view (the [[flatHandle]] discipline): when a
    * tombstone table exists, the lists side anti-joins on (centroid_id,
    * vec_id) — tombstones are co-keyed by centroid at delete time, so
    * a probed-list scan prunes its tombstones with it and never pays a
    * full tombstone pass per probe — and the vecs side anti-joins on
    * the shared vec_id bucketing (shuffle-free on the index side).
    */
  private def ivfCodesHandle(spark: SparkSession,
      l: CodecLayout): IvfCodesHandle = {
    val cents = ParquetIO.read(spark, l.centroids)
    val lists = spark.table(l.scan)
    val vecs = spark.table(l.vecs)
    if (spark.catalog.tableExists(l.tombs)) {
      val tombs = spark.table(l.tombs)
      IvfCodesHandle(cents,
        lists.join(tombs, Seq("centroid_id", "vec_id"), "left_anti"),
        vecs.join(tombs.select("vec_id"), Seq("vec_id"), "left_anti"))
    } else IvfCodesHandle(cents, lists, vecs)
  }

  /** Build (or reuse) the persisted composed layout: k-means centroids
    * train on the float vectors (same deterministic hash-draw + Lloyd
    * recipe and operating point as [[ensureIvf]]); the inverted lists
    * land ENCODED (one per-row codec projection over the assignment —
    * the float embedding never reaches the list layout); the float
    * table lands bucketed by vec_id for the shuffle-free re-rank join.
    * Freshness follows the `ensureLsh` discipline (O(1) snapshot-id
    * trust, content fingerprint fallback, shared `servable` recovery
    * probe, meta committed after the data); a tombstoned layout no
    * longer equals assign(source), so it rebuilds, clearing the
    * deletions.
    */
  private def ensureIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String, index: DataFrame, lists: Int, iters: Int,
      storageBuckets: Int, snapshotId: Option[String]): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    val base = l.base
    def serv(): Boolean = servable(spark, l.dataDirs, l.registered,
      () => l.attach(storageBuckets))
    def opFresh(meta: Map[String, Long]): Boolean =
      ivfOpPoint(meta, lists, iters, storageBuckets)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists(id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(readMeta(base))) && tombFree
    if (snapFresh && serv()) return ivfCodesHandle(spark, l)
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val meta = readMeta(base)
    val metaFresh = opFresh(meta) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) && tombFree && serv()
    if (!metaFresh) {
      dropTombs(spark, base, l.tombs)
      val cents = SimilaritySearch.kMeansCentroids(
        index.select("vec_id", "embedding"), lists, iters)
      cents.write.mode(SaveMode.Overwrite).parquet(l.centroids)
      val encoded = c.assign(index.select("vec_id", "embedding"),
        ParquetIO.read(spark, l.centroids))
      spark.sql(s"DROP TABLE IF EXISTS ${l.scan}")
      encoded.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/lists")
        .partitionBy("centroid_id")
        .format("parquet").saveAsTable(l.scan)
      spark.sql(s"DROP TABLE IF EXISTS ${l.vecs}")
      saveByVecId(index.select("vec_id", "embedding"), l.vecs,
        storageBuckets, Some(s"$base/vecs"))
    }
    if (!metaFresh || snapshotId.isDefined)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
          "buckets" -> storageBuckets.toLong,
          "n_rows" -> n, "checksum" -> fp,
          "n_base" -> (if (metaFresh) meta.getOrElse("n_base", n) else n)) ++
          readMeta(base).get("last_batch_id")
            .map("last_batch_id" -> _).toSeq ++
          // the delete replay-skip window survives a rebuild (the
          // ensureFlat discipline) — tomb_rows does NOT (just cleared)
          readMeta(base).get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    ivfCodesHandle(spark, l)
  }

  /** Incremental add into an existing persisted composed index: new
    * vectors are assigned to the STORED centroids and appended encoded
    * into the partitioned lists (plus float rows into `vecs`) — O(new)
    * per batch. Inherits BOTH parents' contracts: [[upsertIvf]]'s
    * centroid-drift gate (`spark.graft.ann.ivf.maxTailRatio` — the
    * codec layer itself is per-row and drift-free, the centroids are
    * not) and [[upsertFlat]]'s tombstone refusal and batchId
    * replay-skip; the meta checksum xor-composes. Any stored snapshot id
    * is dropped (the layout moves ahead of the snapshot that id named).
    */
  private def upsertIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String, newVecs: DataFrame, lists: Int, iters: Int,
      storageBuckets: Int, batchId: Option[Long]): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    require(ivfOpPoint(meta, lists, iters, storageBuckets),
      s"upsert${l.verb} needs an existing index at the same operating point " +
        s"(lists=$lists iters=$iters buckets=$storageBuckets); found $meta")
    l.requireReadable(" before upserting")
    if (!l.registered) l.attach(storageBuckets)
    if (batchId.exists(id => meta.get("last_batch_id").exists(id <= _)))
      return ivfCodesHandle(spark, l)
    refuseTombstoned(spark, l.base, l.tombs, l.verb, meta, newVecs,
      storageBuckets)
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    val nBase = meta.getOrElse("n_base", meta("n_rows"))
    val tailAfter = meta("n_rows") + nNew - nBase
    val maxRatio = ivfMaxTailRatio(spark)
    if (nBase > 0 && tailAfter > maxRatio * nBase)
      throw new IllegalStateException(
        f"upsert${l.verb} drift gate: upserted tail would reach $tailAfter " +
          f"rows against a trained base of $nBase " +
          f"(ratio ${tailAfter.toDouble / nBase}%.2f > $maxRatio%.2f). " +
          s"Rebuild with ensure${l.verb} to retrain centroids, or raise " +
          "spark.graft.ann.ivf.maxTailRatio.")
    c.assign(newVecs.select("vec_id", "embedding"),
        ParquetIO.read(spark, l.centroids))
      .write.mode(SaveMode.Append)
      .partitionBy("centroid_id")
      .format("parquet").saveAsTable(l.scan)
    saveByVecId(newVecs.select("vec_id", "embedding"), l.vecs,
      storageBuckets)
    writeMetaFull(l.base,
      Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
        "buckets" -> storageBuckets.toLong,
        "n_rows" -> (meta("n_rows") + nNew),
        "checksum" -> (meta("checksum") ^ fpNew),
        "n_base" -> nBase) ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        meta.get("last_del_batch_id").map("last_del_batch_id" -> _).toSeq,
      Nil)
    ivfCodesHandle(spark, l)
  }

  /** Delete by id from the persisted composed index — [[deleteFlat]]'s
    * twin, the verb the 100 TB serving layout needs (a production user
    * must remove vectors without an ensure-rebuild). Merge-on-read
    * tombstones CO-KEYED BY CENTROID: the batch of ids joins the
    * bucketed float `vecs` table (O(batch), shuffle-free on the index
    * side) to fetch embeddings, re-derives each id's nearest stored
    * centroid — the SAME deterministic assignment that placed its list
    * row, so (centroid_id, vec_id) names exactly the stored row — and
    * appends to a tombstone table. The served handle anti-joins the
    * probed lists on (centroid_id, vec_id), so a probe prunes its
    * tombstones together with its lists, and the vecs side on the
    * shared vec_id bucketing.
    *
    * Same contracts as [[deleteFlat]]: absent ids are a semantic no-op;
    * [[compactIvfCodes]] folds; re-inserting a deleted id fails loudly
    * in [[upsertIvfCodes]] until then; the stored `snapshot_id` drops
    * and `ensure*` over the original source rebuilds; `batchId`
    * replay-skips on its own counter (`last_del_batch_id`).
    */
  private def deleteIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String, ids: DataFrame,
      batchId: Option[Long]): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    val meta = readMeta(l.base)
    require(l.built(meta),
      s"delete${l.verb} needs an existing persisted ${l.label} index for " +
        s"'$sourceDir' — run ensure${l.verb} first")
    val storageBuckets = meta("buckets").toInt
    l.requireReadable(" before deleting")
    if (!l.registered) l.attach(storageBuckets)
    if (batchId.exists(id => meta.get("last_del_batch_id").exists(id <= _)))
      return ivfCodesHandle(spark, l)
    // co-key each deleted id by its stored centroid: embeddings come
    // from the bucketed vecs table (batch-sized semi-ish join), the
    // assignment is the same deterministic nearest-centroid max_by that
    // placed the list row — identical input, identical tie-break,
    // identical centroid_id
    val batch = SimilaritySearch.assignWithVecs(
        spark.table(l.vecs)
          .join(ids.select("vec_id").distinct(), Seq("vec_id"),
            "left_semi"),
        ParquetIO.read(spark, l.centroids))
      .select("centroid_id", "vec_id")
    val nDel = batch.count()
    writeTombs(spark, l.base, l.tombs, batch, storageBuckets)
    writeMetaFull(l.base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil) // snapshot_id intentionally dropped: the layout moved past it
    ivfCodesHandle(spark, l)
  }

  /** True iff a persisted composed layout exists for `sourceDir` AT the
    * given operating point (meta check only — no readability or
    * freshness probe; the [[existsFlat]] contract). Lets callers branch
    * build-vs-open explicitly — the delete-serving lifecycle needs
    * this, since a tombstoned layout deliberately fails `ensure*`'s
    * freshness ("serve exactly this source") and must be OPENED, not
    * re-ensured, to keep serving its deletions.
    */
  private def existsIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String, lists: Int, iters: Int,
      storageBuckets: Int): Boolean =
    ivfOpPoint(readMeta(ivfLayout(c, spark, sourceDir).base), lists, iters,
      storageBuckets)

  private def openIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    l.open()
    ivfCodesHandle(spark, l)
  }

  /** Compact the persisted composed layout: streamed upserts append one
    * file set per micro-batch into every probed PARTITION of the lists
    * table (and into the bucketed vecs table) — after thousands of
    * triggers the per-partition small files erode exactly the pruned
    * scan the layout exists to serve. Rewrites the encoded lists at the
    * same partitioning and the vecs at the same bucketing; meta
    * untouched without tombstones (the [[compactLsh]]/[[compactFlat]]
    * crash-safety recipe — side dir, rename swap, stale sweep;
    * unreadable mid-window layouts read as STALE by `ensure*` and
    * rebuild). Tombstone FOLD as [[compactFlat]]: every crash window
    * either keeps serving correctly (tombs still present) or triggers a
    * rebuild (stale tomb_rows meta over folded data). Not safe
    * concurrent with a writer.
    */
  private def compactIvfCodes(c: Codec, spark: SparkSession,
      sourceDir: String): IvfCodesHandle = {
    val l = ivfLayout(c, spark, sourceDir)
    val base = l.base
    l.open() // validates meta + attaches + refreshes
    val meta = readMeta(base)
    val sb = meta("buckets").toInt
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(l.tombs)
    val tombs = if (folding) Some(spark.table(l.tombs)) else None
    compactPartitioned(spark, base, l.scan, "lists", "centroid_id",
      tombs.map(t => spark.table(l.scan)
        .join(t, Seq("centroid_id", "vec_id"), "left_anti")))
    compactBucketed(spark, base, l.vecs, "vecs", "vec_id", sb,
      tombs.map(t => spark.table(l.vecs)
        .join(t.select("vec_id"), Seq("vec_id"), "left_anti")))
    if (folding) dropTombs(spark, base, l.tombs)
    l.attach(sb)
    if (folding) {
      // the live fingerprint changed: recompute from the folded vecs so
      // upsert checksum composition stays coherent; replay-skip windows
      // survive, tomb_rows resets. n_base is NOT reduced — the
      // centroids were trained on the original base, and shrinking
      // n_base would only tighten the drift gate spuriously.
      val (n, fp) = fingerprint(spark.table(l.vecs)
        .select("vec_id", "embedding"))
      writeMetaFull(base,
        (meta - "n_rows" - "checksum" - "tomb_rows").toSeq ++
          Seq("n_rows" -> n, "checksum" -> fp),
        Nil)
    }
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
    upsertIvfCodes(Sq8, spark, sourceDir, newVecs, lists, iters,
      storageBuckets, batchId)

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
    * layout on first delete) — shared by the vec_id-bucketed layouts'
    * delete verbs. Rows land bucketed by vec_id so the float-table
    * anti-join stays shuffle-free on the index side.
    */
  private[sources] def writeTombs(spark: SparkSession, base: String, table: String,
      batch: DataFrame, storageBuckets: Int): Unit = {
    // meta is the tombstone commit point: sweep any orphan dir a
    // crashed delete left (appended but never committed) before this
    // batch commits, so tomb_rows counts exactly what is on disk
    sweepOrphanTombs(spark, base, table)
    // tombs COMMITTED by another session must attach BEFORE the
    // exists-check: the create-new branch would otherwise overwrite
    // (lose) their rows
    registerCommittedTombs(spark, base, table, storageBuckets)
    saveByVecId(batch, table, storageBuckets,
      if (spark.catalog.tableExists(table)) None else Some(s"$base/tombs"))
  }

  /** [[compactIvfSq8]]'s float-IVF twin: rewrites the partitioned
    * inverted lists of an [[ensureIvf]] layout into few files per
    * partition; centroids (tiny plain parquet) untouched, meta
    * untouched.
    */
  def compactIvf(spark: SparkSession, sourceDir: String): IvfHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfBase(spark, tag)
    val listsTable = s"graft_ivf_lists_$tag"
    val meta = readMeta(base)
    require(meta.contains("lists"),
      s"no persisted IVF index for '$sourceDir' ($base)")
    require(parquetReadable(spark, s"$base/lists"),
      s"persisted IVF layout for '$sourceDir' is unreadable — run " +
        "ensureIvf to rebuild")
    if (!spark.catalog.tableExists(listsTable))
      registerExternal(spark, listsTable, s"$base/lists",
        partitionedBy = Some("centroid_id"))
    else spark.catalog.refreshTable(listsTable)
    // tombstone FOLD (the compactSq8 discipline)
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      ivfTombsRegistered(spark, tag)
    compactPartitioned(spark, base, listsTable, "lists", "centroid_id",
      if (folding)
        Some(spark.table(listsTable).join(
          broadcast(spark.table(s"graft_ivf_tombs_$tag")), Seq("vec_id"),
          "left_anti"))
      else None)
    if (folding) dropTombs(spark, base, s"graft_ivf_tombs_$tag")
    spark.sql(s"DROP TABLE IF EXISTS $listsTable")
    registerExternal(spark, listsTable, s"$base/lists",
      partitionedBy = Some("centroid_id"))
    if (folding) {
      // recompute the live fingerprint from the folded lists (they
      // carry (vec_id, embedding) — the same rows ensure fingerprints);
      // n_base stays: the centroids trained on the original base
      val (n, fp) = fingerprint(
        spark.table(listsTable).select("vec_id", "embedding"))
      writeMetaFull(base,
        (meta - "n_rows" - "checksum" - "tomb_rows").toSeq ++
          Seq("n_rows" -> n, "checksum" -> fp),
        Nil)
    }
    ivfServedHandle(spark, tag)
  }

  /** One partitioned table's compaction step (side-dir + swap): shared
    * by [[compactIvf]] and [[compactIvfSq8]].
    */
  private[sources] def compactPartitioned(spark: SparkSession, base: String,
      table: String, sub: String, partCol: String,
      content: Option[DataFrame] = None): Unit = {
    sweepStaleCompaction(base, sub)
    val side = s"$base/${sub}_compact_${ProcessHandle.current.pid}"
    val tmp = s"${table}_compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // repartition ON the partition column: without it every input task
    // re-emits its rows into every partition dir it touches, and the
    // compacted layout keeps the old file count; with it each list
    // lands in exactly one task → one file per partition dir
    content.getOrElse(spark.table(table)).repartition(col(partCol))
      .write.mode(SaveMode.Overwrite)
      .option("path", side)
      .partitionBy(partCol)
      .format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tmp") // external: catalog entry only
    spark.sql(s"DROP TABLE IF EXISTS $table")
    swapDir(s"$base/$sub", side)
  }

  /** Rewrite one bucketed table's content into a side dir at the same
    * (bucketing, sort) spec and atomically swap it live. `content`
    * overrides what gets written (default: the table's current rows) —
    * the tombstone FOLD path passes the anti-joined live set, which is
    * materialized while the old dir is still in place, then swapped.
    */
  private[sources] def compactBucketed(spark: SparkSession, base: String,
      table: String, sub: String, key: String, buckets: Int,
      content: Option[DataFrame] = None): Unit = {
    sweepStaleCompaction(base, sub)
    val side = s"$base/${sub}_compact_${ProcessHandle.current.pid}"
    val tmp = s"${table}_compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // ONE task per bucket, or the fold never happens: a bucketed write
    // splits each TASK's rows into per-bucket files, so writing the
    // accumulated many-task layout directly lands tasks × buckets
    // files (caught by the round-13 maintenance driver's idempotence
    // gate — compaction was rewriting WITHOUT reducing file counts).
    // The repartition on the bucket key collapses to the bucketed
    // scan's own partitioning — but the planner's auto-disable then
    // reverts the scan to per-file partitions with the exchange
    // already elided, resurrecting the fan-out; pinning the bucketed
    // scan on for the rewrite keeps partitions ≡ buckets.
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val priorAutoScan = spark.conf.getOption(autoScanKey)
    spark.conf.set(autoScanKey, "false")
    try {
      content.getOrElse(spark.table(table))
        .repartition(buckets, col(key))
        .write.mode(SaveMode.Overwrite)
        .option("path", side)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(tmp)
    } finally priorAutoScan match {
      case Some(v) => spark.conf.set(autoScanKey, v)
      case None => spark.conf.unset(autoScanKey)
    }
    spark.sql(s"DROP TABLE $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    swapDir(s"$base/$sub", side)
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

  private def ivfPqBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_ivfpq_$tag"

  private def ivfPqRegistered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(s"graft_ivfpq_lists_$tag") &&
      spark.catalog.tableExists(s"graft_ivfpq_vecs_$tag")

  private def attachIvfPq(spark: SparkSession, tag: String,
      storageBuckets: Int): Unit = {
    val base = ivfPqBase(spark, tag)
    spark.sql(s"DROP TABLE IF EXISTS graft_ivfpq_lists_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_ivfpq_vecs_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_ivfpq_tombs_$tag")
    registerExternal(spark, s"graft_ivfpq_lists_$tag", s"$base/lists",
      partitionedBy = Some("centroid_id"))
    registerExternal(spark, s"graft_ivfpq_vecs_$tag", s"$base/vecs",
      clusteredBy = Some(("vec_id", storageBuckets)))
    if (tombsServable(spark, base))
      registerExternal(spark, s"graft_ivfpq_tombs_$tag", s"$base/tombs",
        clusteredBy = Some(("vec_id", storageBuckets)))
  }

  /** The served IVF-PQ view — tombstone anti-joins exactly as
    * [[ivfCodesHandle]]: lists on (centroid_id, vec_id) so probes prune
    * their tombstones with their lists, vecs on the shared vec_id
    * bucketing.
    */
  private def ivfPqHandle(spark: SparkSession, tag: String,
      meta: Map[String, Long]): IvfPqHandle = {
    val cents = ParquetIO.read(spark, s"${ivfPqBase(spark, tag)}/centroids")
    val cb = ParquetIO.read(spark, s"${ivfPqBase(spark, tag)}/codebook")
    val lists = spark.table(s"graft_ivfpq_lists_$tag")
    val vecs = spark.table(s"graft_ivfpq_vecs_$tag")
    if (spark.catalog.tableExists(s"graft_ivfpq_tombs_$tag")) {
      val tombs = spark.table(s"graft_ivfpq_tombs_$tag")
      IvfPqHandle(cents, cb,
        lists.join(tombs, Seq("centroid_id", "vec_id"), "left_anti"),
        vecs.join(tombs.select("vec_id"), Seq("vec_id"), "left_anti"),
        meta("num_sub").toInt, meta("ksub").toInt)
    } else IvfPqHandle(cents, cb, lists, vecs,
      meta("num_sub").toInt, meta("ksub").toInt)
  }

  /** Build (or reuse) the persisted IVF-PQ layout: k-means centroids
    * AND per-subspace PQ codebooks train on the float vectors (the
    * ensureIvfSq8 centroid recipe + the ensurePq codebook recipe), the
    * inverted lists land PQ-ENCODED with the just-persisted codebook
    * (codes and stored model can never diverge), float vecs bucketed by
    * vec_id. Freshness: the shared `ensureLsh` discipline.
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
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfPqBase(spark, tag)
    val listsTable = s"graft_ivfpq_lists_$tag"
    val vecsTable = s"graft_ivfpq_vecs_$tag"
    def serv(): Boolean = servable(spark,
      Seq(s"$base/lists", s"$base/vecs", s"$base/centroids",
        s"$base/codebook"),
      ivfPqRegistered(spark, tag),
      () => attachIvfPq(spark, tag, storageBuckets))
    def opFresh(meta: Map[String, Long]): Boolean =
      meta.get("lists").contains(lists.toLong) &&
        meta.get("iters").contains(iters.toLong) &&
        meta.get("num_sub").contains(numSub.toLong) &&
        meta.get("ksub").contains(ksub.toLong) &&
        meta.get("pq_iters").contains(pqIters.toLong) &&
        meta.get("buckets").contains(storageBuckets.toLong)
    // tombstoned layout ⇒ stale under ensure's "serve exactly this
    // source" contract (the ensureSq8/ensureIvfSq8 discipline)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists(id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(readMeta(base))) && tombFree
    if (snapFresh && serv()) return ivfPqHandle(spark, tag, readMeta(base))
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val meta = readMeta(base)
    val metaFresh = opFresh(meta) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) && tombFree && serv()
    if (!metaFresh) {
      dropTombs(spark, base, s"graft_ivfpq_tombs_$tag")
      val idx = index.select("vec_id", "embedding")
      val cents = SimilaritySearch.kMeansCentroids(idx, lists, iters)
      cents.write.mode(SaveMode.Overwrite).parquet(s"$base/centroids")
      val cb = SimilaritySearch.pqCodebooks(idx, numSub, ksub, pqIters)
      cb.write.mode(SaveMode.Overwrite).parquet(s"$base/codebook")
      val flat = SimilaritySearch.collectCodebook(
        ParquetIO.read(spark, s"$base/codebook"), numSub, ksub)
      val plists = SimilaritySearch.assignPqEncoded(idx,
        ParquetIO.read(spark, s"$base/centroids"), flat, numSub, ksub)
      spark.sql(s"DROP TABLE IF EXISTS $listsTable")
      plists.write.mode(SaveMode.Overwrite)
        .option("path", s"$base/lists")
        .partitionBy("centroid_id")
        .format("parquet").saveAsTable(listsTable)
      spark.sql(s"DROP TABLE IF EXISTS $vecsTable")
      saveByVecId(idx, vecsTable, storageBuckets, Some(s"$base/vecs"))
    }
    if (!metaFresh || snapshotId.isDefined)
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
          "num_sub" -> numSub.toLong, "ksub" -> ksub.toLong,
          "pq_iters" -> pqIters.toLong,
          "buckets" -> storageBuckets.toLong,
          "n_rows" -> n, "checksum" -> fp,
          "n_base" -> (if (metaFresh) meta.getOrElse("n_base", n) else n)) ++
          readMeta(base).get("last_batch_id")
            .map("last_batch_id" -> _).toSeq ++
          // delete replay-skip survives a rebuild; tomb_rows does not
          readMeta(base).get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    ivfPqHandle(spark, tag, readMeta(base))
  }

  /** Incremental add into an existing persisted IVF-PQ index: new
    * vectors are assigned to the STORED centroids and encoded with the
    * STORED codebook (faiss's `add()`-after-`train()` contract, public)
    * — O(new) per batch, batchId replay-skip. BOTH model artifacts are
    * distribution-bound, so the [[upsertIvf]] drift gate applies: a
    * tail that overwhelms the trained base fails loudly
    * (`spark.graft.ann.ivf.maxTailRatio`) instead of silently eroding
    * recall through stale centroids AND stale codebooks.
    */
  def upsertIvfPq(
      spark: SparkSession,
      sourceDir: String,
      newVecs: DataFrame,
      batchId: Option[Long] = None): IvfPqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfPqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists") && meta.contains("num_sub"),
      s"upsertIvfPq needs an existing persisted IVF-PQ index for " +
        s"'$sourceDir' — run ensureIvfPq first")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/vecs") &&
      parquetReadable(spark, s"$base/centroids") &&
      parquetReadable(spark, s"$base/codebook"),
      s"persisted IVF-PQ layout for '$sourceDir' is unreadable — run " +
        "ensureIvfPq to rebuild before upserting")
    if (!ivfPqRegistered(spark, tag))
      attachIvfPq(spark, tag, meta("buckets").toInt)
    val replayed = batchId.exists(id =>
      meta.get("last_batch_id").exists(id <= _))
    if (replayed) return ivfPqHandle(spark, tag, meta)
    refuseTombstoned(spark, base, s"graft_ivfpq_tombs_$tag", "IvfPq", meta,
      newVecs, meta("buckets").toInt)
    val (nNew, fpNew) = fingerprint(newVecs.select("vec_id", "embedding"))
    val nBase = meta.getOrElse("n_base", meta("n_rows"))
    val tailAfter = meta("n_rows") + nNew - nBase
    val maxRatio = ivfMaxTailRatio(spark)
    if (nBase > 0 && tailAfter > maxRatio * nBase)
      throw new IllegalStateException(
        f"upsertIvfPq drift gate: upserted tail would reach $tailAfter " +
          f"rows against a trained base of $nBase " +
          f"(ratio ${tailAfter.toDouble / nBase}%.2f > $maxRatio%.2f). " +
          "Rebuild with ensureIvfPq to retrain centroids + codebook, or " +
          "raise spark.graft.ann.ivf.maxTailRatio.")
    val numSub = meta("num_sub").toInt
    val ksub = meta("ksub").toInt
    val flat = SimilaritySearch.collectCodebook(
      ParquetIO.read(spark, s"$base/codebook"), numSub, ksub)
    SimilaritySearch.assignPqEncoded(
        newVecs.select("vec_id", "embedding"),
        ParquetIO.read(spark, s"$base/centroids"), flat, numSub, ksub)
      .write.mode(SaveMode.Append)
      .partitionBy("centroid_id")
      .format("parquet").saveAsTable(s"graft_ivfpq_lists_$tag")
    saveByVecId(newVecs.select("vec_id", "embedding"),
      s"graft_ivfpq_vecs_$tag", meta("buckets").toInt)
    writeMetaFull(base,
      (meta - "n_rows" - "checksum" - "last_batch_id").toSeq ++
        Seq("n_rows" -> (meta("n_rows") + nNew),
          "checksum" -> (meta("checksum") ^ fpNew)) ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq,
      Nil)
    ivfPqHandle(spark, tag, readMeta(base))
  }

  /** Delete by id from the persisted IVF-PQ index — [[deleteIvfSq8]]'s
    * PQ twin, completing the delete verb across every composed serving
    * layout. Tombstones co-keyed by centroid (same derivation: batch
    * ids join the bucketed float vecs, nearest-STORED-centroid
    * assignment reproduces the stored list placement deterministically)
    * with the same contracts: absent ids are a no-op, re-insert fails
    * loudly until [[compactIvfPq]] folds, snapshot_id drops, `batchId`
    * replay-skips on `last_del_batch_id`.
    */
  def deleteIvfPq(
      spark: SparkSession,
      sourceDir: String,
      ids: DataFrame,
      batchId: Option[Long] = None): IvfPqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfPqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists") && meta.contains("num_sub"),
      s"deleteIvfPq needs an existing persisted IVF-PQ index for " +
        s"'$sourceDir' — run ensureIvfPq first")
    val storageBuckets = meta("buckets").toInt
    require(Seq("lists", "vecs", "centroids", "codebook")
        .forall(d => parquetReadable(spark, s"$base/$d")),
      s"persisted IVF-PQ layout for '$sourceDir' is unreadable — run " +
        "ensureIvfPq to rebuild before deleting")
    if (!ivfPqRegistered(spark, tag))
      attachIvfPq(spark, tag, storageBuckets)
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed) return ivfPqHandle(spark, tag, meta)
    val batch = SimilaritySearch.assignWithVecs(
        spark.table(s"graft_ivfpq_vecs_$tag")
          .join(ids.select("vec_id").distinct(), Seq("vec_id"),
            "left_semi"),
        ParquetIO.read(spark, s"$base/centroids"))
      .select("centroid_id", "vec_id")
    val nDel = batch.count()
    writeTombs(spark, base, s"graft_ivfpq_tombs_$tag", batch,
      storageBuckets)
    writeMetaFull(base,
      (meta - "tomb_rows" - "last_del_batch_id").toSeq ++
        Seq("tomb_rows" -> (meta.getOrElse("tomb_rows", 0L) + nDel)) ++
        batchId.orElse(meta.get("last_del_batch_id"))
          .map("last_del_batch_id" -> _).toSeq,
      Nil) // snapshot_id intentionally dropped: the layout moved past it
    ivfPqHandle(spark, tag, readMeta(base))
  }

  /** [[ivfSq8Exists]]'s IVF-PQ twin: meta-only operating-point check,
    * for the build-vs-open branch a tombstone-serving caller needs. */
  def ivfPqExists(spark: SparkSession, sourceDir: String,
      lists: Int = 64, iters: Int = 5, numSub: Int = 16, ksub: Int = 64,
      pqIters: Int = 2, storageBuckets: Int = 8): Boolean = {
    val meta = readMeta(ivfPqBase(spark, IndexStore.pathTag(sourceDir)))
    meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("num_sub").contains(numSub.toLong) &&
      meta.get("ksub").contains(ksub.toLong) &&
      meta.get("pq_iters").contains(pqIters.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong)
  }

  /** Open an existing persisted IVF-PQ index read-only, WITHOUT a
    * freshness probe (the openSq8/openIvfSq8 contract). */
  def openIvfPq(spark: SparkSession, sourceDir: String): IvfPqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfPqBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists") && meta.contains("num_sub"),
      s"no persisted IVF-PQ index for '$sourceDir' ($base)")
    require(Seq("lists", "vecs", "centroids", "codebook")
        .forall(d => parquetReadable(spark, s"$base/$d")),
      s"persisted IVF-PQ layout for '$sourceDir' is unreadable — run " +
        "ensureIvfPq to rebuild")
    if (!ivfPqRegistered(spark, tag))
      attachIvfPq(spark, tag, meta("buckets").toInt)
    else {
      spark.catalog.refreshTable(s"graft_ivfpq_lists_$tag")
      spark.catalog.refreshTable(s"graft_ivfpq_vecs_$tag")
      // tombstones may have (dis)appeared under another session's
      // delete or fold — align with the store, DDL only on a change
      syncTombs(spark, base, s"graft_ivfpq_tombs_$tag",
        clusteredBy = Some(("vec_id", meta("buckets").toInt)))
    }
    ivfPqHandle(spark, tag, meta)
  }

  /** Compact the persisted IVF-PQ layout — the lifecycle-parity verb
    * the layout was missing (a long-streamed IVF-PQ index accumulated
    * small files with no remedy short of rebuild): rewrites the
    * PQ-coded lists at the same partitioning and the float vecs at the
    * same bucketing (the [[compactIvfSq8]] side-dir + rename-swap
    * crash recipe — mid-window unreadable layouts read as STALE by
    * `ensureIvfPq` and rebuild), folding any tombstones into the base
    * as it goes (drop deleted rows, reset tomb_rows, recompute the
    * live fingerprint; replay-skip counters survive). Centroids and
    * codebook (tiny model artifacts) are untouched — compaction
    * changes files, never the trained model. Not safe concurrent with
    * a writer.
    */
  def compactIvfPq(spark: SparkSession, sourceDir: String): IvfPqHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = ivfPqBase(spark, tag)
    openIvfPq(spark, sourceDir) // validates meta + attaches + refreshes
    val meta = readMeta(base)
    val sb = meta("buckets").toInt
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(s"graft_ivfpq_tombs_$tag")
    val tombs =
      if (folding) Some(spark.table(s"graft_ivfpq_tombs_$tag")) else None
    compactPartitioned(spark, base, s"graft_ivfpq_lists_$tag", "lists",
      "centroid_id",
      tombs.map(t => spark.table(s"graft_ivfpq_lists_$tag")
        .join(t, Seq("centroid_id", "vec_id"), "left_anti")))
    compactBucketed(spark, base, s"graft_ivfpq_vecs_$tag", "vecs",
      "vec_id", sb,
      tombs.map(t => spark.table(s"graft_ivfpq_vecs_$tag")
        .join(t.select("vec_id"), Seq("vec_id"), "left_anti")))
    if (folding) dropTombs(spark, base, s"graft_ivfpq_tombs_$tag")
    attachIvfPq(spark, tag, sb)
    if (folding) {
      val (n, fp) = fingerprint(spark.table(s"graft_ivfpq_vecs_$tag")
        .select("vec_id", "embedding"))
      writeMetaFull(base,
        (meta - "n_rows" - "checksum" - "tomb_rows").toSeq ++
          Seq("n_rows" -> n, "checksum" -> fp),
        Nil)
    }
    ivfPqHandle(spark, tag, readMeta(base))
  }

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
    upsertIvfCodes(Bq, spark, sourceDir, newVecs, lists, iters,
      storageBuckets, batchId)

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
