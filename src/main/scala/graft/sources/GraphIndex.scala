package graft.sources

import graft.operators.KnnGraph
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted GRAPH-ANN layout — the kNN graph promoted to a served
  * index with the engine's store lifecycle (the LSH/IVF/SQ8 discipline
  * from [[AnnIndex]]: meta-after-data commits, content-fingerprint or
  * snapshot-id freshness, batchId replay-skip, tombstone deletes).
  *
  * Layout under `spark.graft.ann.basePath`:
  *   edges/  (src, dst, score)   UNDIRECTED (both directions stored),
  *                               bucketed by src
  *   vecs/   (vec_id, embedding) bucketed by vec_id
  *   tombs/  (vec_id)            committed via meta tomb_rows
  *
  * Edges are stored pre-symmetrized so a query's expansion is one
  * bucketed equi-join — no per-query symmetrize/distinct pass — and so
  * an UPSERTED node (whose edges are discovered by searching the graph
  * itself, the HNSW-insert idea) is immediately reachable from its
  * neighbors via the stored reverse direction.
  *
  * Delete semantics: tombstoned nodes are excluded from the frontier
  * entirely — they neither route nor serve (UNLIKE DiskANN's
  * route-through-tombstones; edges into them go dead). Light deletion
  * is absorbed by the graph's redundancy (q233 re-certifies the recall
  * floor post-delete); heavy deletion degrades connectivity until a
  * rebuild — ensureGraph's contract ("serve exactly this source")
  * forces that rebuild, which clears tombstones, the ensureSq8 rule.
  */
object GraphIndex {
  import AnnIndex.{annBase, dropTombs, fingerprint, readMeta,
    readMetaStrs, registerExternal, servable, sweepOrphanTombs,
    tombsServable, writeMetaFull}

  final case class GraphHandle(edges: DataFrame, vecs: DataFrame, k: Int)

  private def gBase(spark: SparkSession, tag: String) =
    s"${annBase(spark)}/graft_ann_graph_$tag"

  private def registered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(s"graft_graph_edges_$tag") &&
      spark.catalog.tableExists(s"graft_graph_vecs_$tag")

  private def attach(spark: SparkSession, tag: String,
      storageBuckets: Int): Unit = {
    val base = gBase(spark, tag)
    spark.sql(s"DROP TABLE IF EXISTS graft_graph_edges_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_graph_vecs_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_graph_tombs_$tag")
    registerExternal(spark, s"graft_graph_edges_$tag", s"$base/edges",
      clusteredBy = Some(("src", storageBuckets)))
    registerExternal(spark, s"graft_graph_vecs_$tag", s"$base/vecs",
      clusteredBy = Some(("vec_id", storageBuckets)))
    if (tombsServable(spark, base))
      registerExternal(spark, s"graft_graph_tombs_$tag", s"$base/tombs",
        clusteredBy = Some(("vec_id", storageBuckets)))
  }

  /** Served view: when tombstones are committed BOTH tables anti-join
    * them (vecs on its own bucketing; edges on both endpoints via a
    * broadcast of the deletion-bounded set — a tombstoned node must
    * neither serve nor route).
    */
  private def handle(spark: SparkSession, tag: String, k: Int): GraphHandle = {
    val edges = spark.table(s"graft_graph_edges_$tag")
    val vecs = spark.table(s"graft_graph_vecs_$tag")
    val (e, v) =
      if (spark.catalog.tableExists(s"graft_graph_tombs_$tag")) {
        val tombs = spark.table(s"graft_graph_tombs_$tag")
        (edges
          .join(broadcast(tombs.select(col("vec_id").as("src"))),
            Seq("src"), "left_anti")
          .join(broadcast(tombs.select(col("vec_id").as("dst"))),
            Seq("dst"), "left_anti"),
          vecs.join(tombs, Seq("vec_id"), "left_anti"))
      } else (edges, vecs)
    GraphHandle(e, v, k)
  }

  private def metaMatches(meta: Map[String, Long], k: Int, rounds: Int,
      blockSize: Int, maxDegree: Int, storageBuckets: Int, n: Long,
      fp: Long): Boolean =
    meta.get("k").contains(k.toLong) &&
      meta.get("rounds").contains(rounds.toLong) &&
      meta.get("block_size").contains(blockSize.toLong) &&
      meta.get("max_degree").contains(maxDegree.toLong) &&
      meta.get("buckets").contains(storageBuckets.toLong) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp)

  /** Build (or reuse) the persisted graph over `index(vec_id,
    * embedding)`: NN-Descent at the given operating point, symmetrized,
    * both tables bucketed through the catalog, meta committed last.
    * Freshness follows ensureLsh exactly — snapshot-id O(1) trust, else
    * one fingerprint pass; tombstoned layouts rebuild.
    */
  def ensureGraph(spark: SparkSession, sourceDir: String, index: DataFrame,
      k: Int = 8, rounds: Int = 4, blockSize: Int = 50,
      maxDegree: Int = 24, storageBuckets: Int = 8,
      snapshotId: Option[String] = None): GraphHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = gBase(spark, tag)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists { id =>
      readMetaStrs(base).get("snapshot_id").contains(id) &&
        metaFieldsMatch(base, k, rounds, blockSize, maxDegree,
          storageBuckets)
    } && tombFree
    if (snapFresh && servable(spark,
        Seq(s"$base/edges", s"$base/vecs"), registered(spark, tag),
        () => attach(spark, tag, storageBuckets)))
      return handle(spark, tag, k)
    val (n, fp) = fingerprint(index.select("vec_id", "embedding"))
    val metaFresh = metaMatches(readMeta(base), k, rounds, blockSize,
      maxDegree, storageBuckets, n, fp) && tombFree &&
      servable(spark, Seq(s"$base/edges", s"$base/vecs"),
        registered(spark, tag), () => attach(spark, tag, storageBuckets))
    if (!metaFresh)
      build(spark, tag, index, k, rounds, blockSize, maxDegree,
        storageBuckets, n, fp, snapshotId)
    else if (snapshotId.isDefined)
      commitMeta(spark, base, k, rounds, blockSize, maxDegree,
        storageBuckets, n, fp, snapshotId,
        tombRows = readMeta(base).getOrElse("tomb_rows", 0L))
    handle(spark, tag, k)
  }

  private def metaFieldsMatch(base: String, k: Int, rounds: Int,
      blockSize: Int, maxDegree: Int, storageBuckets: Int): Boolean = {
    val m = readMeta(base)
    m.get("k").contains(k.toLong) &&
      m.get("rounds").contains(rounds.toLong) &&
      m.get("block_size").contains(blockSize.toLong) &&
      m.get("max_degree").contains(maxDegree.toLong) &&
      m.get("buckets").contains(storageBuckets.toLong)
  }

  private def commitMeta(spark: SparkSession, base: String, k: Int,
      rounds: Int, blockSize: Int, maxDegree: Int, storageBuckets: Int,
      n: Long, fp: Long, snapshotId: Option[String], tombRows: Long,
      lastBatchId: Option[Long] = None): Unit = {
    val prior = readMeta(base)
    writeMetaFull(base,
      Seq("k" -> k.toLong, "rounds" -> rounds.toLong,
        "block_size" -> blockSize.toLong, "max_degree" -> maxDegree.toLong,
        "buckets" -> storageBuckets.toLong, "n_rows" -> n,
        "checksum" -> fp, "tomb_rows" -> tombRows) ++
        lastBatchId.orElse(prior.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq,
      snapshotId.map("snapshot_id" -> _).toSeq)
  }

  private def build(spark: SparkSession, tag: String, index: DataFrame,
      k: Int, rounds: Int, blockSize: Int, maxDegree: Int,
      storageBuckets: Int, n: Long, fp: Long,
      snapshotId: Option[String]): Unit = {
    val base = gBase(spark, tag)
    val priorBatch = readMeta(base).get("last_batch_id")
    // a rebuild serves exactly its source: tombstones cleared
    dropTombs(spark, base, s"graft_graph_tombs_$tag")
    val g = KnnGraph.nnDescent(index, k, rounds = rounds,
      blockSize = blockSize, maxDegreeOpt = Some(maxDegree))
      .select("src", "dst", "score")
    val undirected = g.unionByName(
        g.select(col("dst").as("src"), col("src").as("dst"), col("score")))
      .distinct()
    spark.sql(s"DROP TABLE IF EXISTS graft_graph_edges_$tag")
    undirected.write.mode(SaveMode.Overwrite)
      .option("path", s"$base/edges")
      .bucketBy(storageBuckets, "src").sortBy("src")
      .format("parquet").saveAsTable(s"graft_graph_edges_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_graph_vecs_$tag")
    index.select("vec_id", "embedding").write.mode(SaveMode.Overwrite)
      .option("path", s"$base/vecs")
      .bucketBy(storageBuckets, "vec_id").sortBy("vec_id")
      .format("parquet").saveAsTable(s"graft_graph_vecs_$tag")
    commitMeta(spark, base, k, rounds, blockSize, maxDegree,
      storageBuckets, n, fp, snapshotId, tombRows = 0L,
      lastBatchId = priorBatch)
  }

  def graphExists(spark: SparkSession, sourceDir: String): Boolean = {
    val base = gBase(spark, IndexStore.pathTag(sourceDir))
    readMeta(base).contains("checksum")
  }

  /** Committed numeric meta (k, n_rows, tomb_rows, last_batch_id, …) —
    * the exists-branch probes queries use to decide build-vs-serve
    * without touching data (the q141/q205 replay discipline).
    */
  def graphMeta(spark: SparkSession, sourceDir: String): Map[String, Long] =
    readMeta(gBase(spark, IndexStore.pathTag(sourceDir)))

  /** Attach-or-open the committed layout without a source scan. */
  def openGraph(spark: SparkSession, sourceDir: String): GraphHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = gBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("k"), s"no committed graph index at $base")
    val buckets = meta.getOrElse("buckets", 8L).toInt
    if (registered(spark, tag)) {
      // a writer in ANOTHER session (a streaming foreachBatch clone, a
      // concurrent process) invalidates only its own relation cache on
      // append — refresh so this reader's file listing is current; and
      // tombstones may have (dis)appeared under another session's
      // delete — re-derive the registration from the store (the
      // openLsh discipline)
      spark.catalog.refreshTable(s"graft_graph_edges_$tag")
      spark.catalog.refreshTable(s"graft_graph_vecs_$tag")
      AnnIndex.syncTombs(spark, base, s"graft_graph_tombs_$tag",
        clusteredBy = Some(("vec_id", buckets)))
    }
    require(servable(spark, Seq(s"$base/edges", s"$base/vecs"),
      registered(spark, tag), () => attach(spark, tag, buckets)),
      s"graph layout at $base is not servable")
    handle(spark, tag, meta("k").toInt)
  }

  /** Serve queries (query_id, query_vec) through the stored graph —
    * [[KnnGraph.graphSearch]] over the served view (edges already
    * undirected on disk).
    */
  def queryGraph(spark: SparkSession, sourceDir: String, queries: DataFrame,
      k: Int = 4, beam: Int = 32, rounds: Int = 3): DataFrame = {
    val h = openGraph(spark, sourceDir)
    KnnGraph.graphSearch(queries, h.vecs, h.edges, k = k, beam = beam,
      rounds = rounds, assumeUndirected = true)
  }

  /** Incremental insert — the HNSW-insert idea: each new node's edges
    * are DISCOVERED BY SEARCHING the current graph (top graph-k of a
    * beam search), then appended in both directions, so the batch costs
    * O(new · search) instead of a rebuild's O(index). Append-only
    * contract and batchId replay-skip as in [[AnnIndex.upsertLsh]]; the
    * checksum composes by xor so ensure* freshness stays exact.
    */
  def upsertGraph(spark: SparkSession, sourceDir: String,
      newVecs: DataFrame, beam: Int = 32, rounds: Int = 3,
      batchId: Option[Long] = None): GraphHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = gBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("k"), s"no committed graph index at $base")
    val k = meta("k").toInt
    val storageBuckets = meta.getOrElse("buckets", 8L).toInt
    // appending into a gutted layout would recreate the dir holding
    // only this batch under a full-corpus checksum — fail loudly (the
    // upsertLsh rule; ensureGraph is the rebuild path)
    require(AnnIndex.parquetReadable(spark, s"$base/edges") &&
      AnnIndex.parquetReadable(spark, s"$base/vecs"),
      s"persisted graph layout for '$sourceDir' is unreadable — run " +
        "ensureGraph to rebuild before upserting")
    if (!registered(spark, tag)) attach(spark, tag, storageBuckets)
    if (batchId.exists(id => meta.get("last_batch_id").exists(id <= _)))
      return handle(spark, tag, k)
    // re-adding a tombstoned id would be silently swallowed by the
    // anti-join — fail loudly (rebuild folds deletions first). Tombs
    // COMMITTED by another session may be unregistered here: register
    // them BEFORE the clash check (the upsertLsh rule) — and-ing the
    // guard on tableExists would silently skip it in exactly the
    // cross-session case it exists for
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      if (!spark.catalog.tableExists(s"graft_graph_tombs_$tag") &&
          tombsServable(spark, base))
        registerExternal(spark, s"graft_graph_tombs_$tag", s"$base/tombs",
          clusteredBy = Some(("vec_id", storageBuckets)))
      // committed tomb_rows with no readable tombs dir = the crashed
      // compact-fold window — fail with the recovery verb, not a raw
      // missing-table error naming an internal name
      require(spark.catalog.tableExists(s"graft_graph_tombs_$tag"),
        s"graph layout for '$sourceDir' records tombstones but the " +
          "tombs dir is unreadable (crashed compaction fold?) — run " +
          "ensureGraph to rebuild before upserting")
      val clash = spark.table(s"graft_graph_tombs_$tag")
        .join(newVecs.select("vec_id"), Seq("vec_id"), "left_semi").count()
      require(clash == 0L,
        s"upsertGraph: $clash incoming vec_id(s) are tombstoned — " +
          "rebuild (ensureGraph) to fold deletions before re-inserting")
    }
    val h = handle(spark, tag, k)
    val fresh = newVecs.select("vec_id", "embedding").localCheckpoint(true)
    val (nNew, fpNew) = fingerprint(fresh)
    val found = KnnGraph.graphSearch(
      fresh.select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec")),
      h.vecs, h.edges, k = k, beam = beam, rounds = rounds,
      assumeUndirected = true)
    val newEdges = found.select(col("query_id").as("src"),
      col("vec_id").as("dst"), col("score"))
    newEdges.unionByName(newEdges.select(col("dst").as("src"),
        col("src").as("dst"), col("score")))
      .write.mode(SaveMode.Append)
      .bucketBy(storageBuckets, "src").sortBy("src")
      .format("parquet").saveAsTable(s"graft_graph_edges_$tag")
    fresh.write.mode(SaveMode.Append)
      .bucketBy(storageBuckets, "vec_id").sortBy("vec_id")
      .format("parquet").saveAsTable(s"graft_graph_vecs_$tag")
    // snapshot_id dropped: the layout moved AHEAD of the snapshot (the
    // upsertLsh rule) — freshness falls back to the exact xor'd
    // fingerprint
    commitMeta(spark, base, k, meta("rounds").toInt,
      meta("block_size").toInt, meta("max_degree").toInt,
      meta("buckets").toInt, meta("n_rows") + nNew,
      meta("checksum") ^ fpNew, snapshotId = None,
      tombRows = meta.getOrElse("tomb_rows", 0L),
      lastBatchId = batchId.orElse(meta.get("last_batch_id")))
    handle(spark, tag, k)
  }

  /** Compact the persisted graph layout: fold committed tombstones
    * physically (vecs minus victims; edges minus ANY row touching a
    * victim at either endpoint) and rewrite both tables' accumulated
    * per-trigger file sets at the same bucketing — one
    * [[StoreFiles.swap]] per table (a crash leaves the live layout or
    * a missing dir the ensure path treats as stale). After the fold the
    * layout is tombFree: previously-deleted ids may honestly RE-ADMIT
    * via upsert (the DedupStore re-admission rule), and ensure's
    * freshness contract sees a clean layout again.
    */
  def compactGraph(spark: SparkSession, sourceDir: String): GraphHandle = {
    import AnnIndex.{compactBucketed, withBucketedScanPinned}
    val tag = IndexStore.pathTag(sourceDir)
    val base = gBase(spark, tag)
    openGraph(spark, sourceDir) // validates meta + attaches + refreshes
    val meta = readMeta(base)
    val sb = meta.getOrElse("buckets", 8L).toInt
    val folding = meta.get("tomb_rows").exists(_ > 0L) &&
      spark.catalog.tableExists(s"graft_graph_tombs_$tag")
    def foldVecs(df: DataFrame) =
      if (folding)
        df.join(spark.table(s"graft_graph_tombs_$tag"), Seq("vec_id"),
          "left_anti")
      else df
    def foldEdges(df: DataFrame) =
      if (folding) {
        val t = spark.table(s"graft_graph_tombs_$tag")
        df.join(broadcast(t.select(col("vec_id").as("src"))), Seq("src"),
            "left_anti")
          .join(broadcast(t.select(col("vec_id").as("dst"))), Seq("dst"),
            "left_anti")
      } else df
    withBucketedScanPinned(spark) {
      compactBucketed(spark, base, s"graft_graph_edges_$tag", "edges",
        "src", sb, Some(foldEdges(spark.table(s"graft_graph_edges_$tag"))))
      compactBucketed(spark, base, s"graft_graph_vecs_$tag", "vecs",
        "vec_id", sb,
        Some(foldVecs(spark.table(s"graft_graph_vecs_$tag"))))
    }
    if (folding) dropTombs(spark, base, s"graft_graph_tombs_$tag")
    attach(spark, tag, sb)
    if (folding) {
      val (n, fp) = fingerprint(spark.table(s"graft_graph_vecs_$tag")
        .select("vec_id", "embedding"))
      // snapshot_id stays dropped (the delete already dropped it): the
      // folded layout is source-minus-victims, not the snapshot
      commitMeta(spark, base, meta("k").toInt, meta("rounds").toInt,
        meta("block_size").toInt, meta("max_degree").toInt, sb, n, fp,
        snapshotId = None, tombRows = 0L,
        lastBatchId = meta.get("last_batch_id"))
    }
    handle(spark, tag, meta("k").toInt)
  }

  /** Tombstone deletes: ids land in tombs/, committed via the meta's
    * tomb_rows (orphans from a crashed delete are swept first — the
    * single-deleter discipline [[AnnIndex.sweepOrphanTombs]] documents).
    * Returns total committed tombstones.
    */
  def deleteGraph(spark: SparkSession, sourceDir: String,
      ids: DataFrame): Long = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = gBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("k"), s"no committed graph index at $base")
    sweepOrphanTombs(spark, base, s"graft_graph_tombs_$tag")
    // idempotence: ids already tombstoned fold away, so a replayed
    // delete is a no-op instead of double-counting tomb_rows
    val already =
      if (meta.get("tomb_rows").exists(_ > 0L) &&
          tombsServable(spark, base))
        ParquetIO.read(spark, s"$base/tombs")
      else spark.emptyDataFrame.withColumn("vec_id", lit(0L))
        .filter(lit(false))
    val del = ids.select(col("vec_id")).distinct()
      .join(already.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val nDel = del.count()
    if (nDel == 0) return meta.getOrElse("tomb_rows", 0L)
    val storageBuckets = meta.getOrElse("buckets", 8L).toInt
    AnnIndex.writeTombs(spark, base, s"graft_graph_tombs_$tag", del,
      Some(("vec_id", storageBuckets)))
    val total = meta.getOrElse("tomb_rows", 0L) + nDel
    // snapshot_id DROPPED (the deleteLsh rule): the layout moved past
    // the snapshot, and a later compact-fold makes it source-minus-
    // victims — a snapshot-trusting ensure must re-fingerprint, not
    // serve the smaller layout as the full source
    commitMeta(spark, base, meta("k").toInt, meta("rounds").toInt,
      meta("block_size").toInt, meta("max_degree").toInt,
      meta("buckets").toInt, meta("n_rows"), meta("checksum"),
      snapshotId = None, tombRows = total,
      lastBatchId = meta.get("last_batch_id"))
    total
  }
}
