package graft.sources

import graft.functions.VectorOps
import graft.operators.{LateInteraction, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted late-interaction serving layout — the PLAID architecture
  * (Santhanam, Khattab, Potts, Zaharia — "PLAID: An Efficient Engine
  * for Late Interaction Retrieval", CIKM 2022, public) re-expressed
  * relationally: the multi-vector chunk table CLUSTERED by k-means
  * centroid and stored partitioned by `centroid_id`, so MaxSim's first
  * stage scans only the lists the query's tokens probe instead of the
  * whole chunk corpus. The multi-vector table is the byte-heaviest
  * retrieval layout in the engine (a vector per CHUNK), which makes
  * partition-pruned stage-1 the biggest scan win available to it —
  * the full-scan [[LateInteraction.maxSimTopK]] touches every chunk
  * row per query batch.
  *
  * Layout under `graft_plaid_<tag>` (the [[AnnIndex.ensureIvf]]
  * discipline: meta-after-data, fingerprint or snapshot-id freshness):
  *   lists/     (doc_id, vec_id, embedding) PARTITIONED BY centroid_id
  *   centroids/ (centroid_id, centroid_vec)
  *
  * Serving ([[plaidTopK]]):
  *   1. probe: each query TOKEN takes its `nProbe` nearest centroids
  *      (tokens × centroids — broadcast-sized); the query's probe set
  *      is the union over its tokens.
  *   2. stage 1: approximate MaxSim over the PROBED lists only (the
  *      probed-centroid set — bounded by the list count — rides the
  *      scan as partition LITERALS, so unprobed directories are never
  *      read) — the per-token max is restricted to probed chunks, a
  *      lower bound of the true per-token max — shortlist `mDocs`
  *      docs per query.
  *   3. stage 2: exact float MaxSim over the shortlist's full chunk
  *      sets ([[LateInteraction.maxSimRerank]]), identical tie
  *      discipline to the full scan.
  *
  * Output-identical to the full scan at a MEASURED (nProbe, mDocs)
  * margin — the q229/q237 discipline: MaxSimTune's `plaid` mode
  * measures the required shortlist depth per scale and the shipped
  * operating point carries a recorded margin (q242 pins the zero
  * symmetric difference at all three fixture scales). Full lifecycle:
  * [[ensurePlaid]] (global re-cluster), [[upsertPlaid]] (O(batch)
  * assignment to the stored centroids under the IVF drift gate — q245
  * pins upsert ≡ rebuild), [[deletePlaid]] (doc-id tombstones), with
  * batch-id replay-skip on both write verbs.
  */
object PlaidIndex {
  import AnnIndex.{fingerprint, parquetReadable, readMeta, readMetaStrs,
    registerExternal, servable, writeMetaFull}

  final case class PlaidHandle(lists: DataFrame, centroids: DataFrame,
      docCentroids: DataFrame, lists_ : Int)

  private def plaidBase(spark: SparkSession, tag: String) =
    s"${AnnIndex.annBase(spark)}/graft_plaid_$tag"
  private def listsName(tag: String) = s"graft_plaid_lists_$tag"
  private def doccentName(tag: String) = s"graft_plaid_doccent_$tag"
  private def tombsName(tag: String) = s"graft_plaid_tombs_$tag"

  private def registered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(listsName(tag)) &&
      spark.catalog.tableExists(doccentName(tag))

  private def attach(spark: SparkSession, tag: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${listsName(tag)}")
    registerExternal(spark, listsName(tag),
      s"${plaidBase(spark, tag)}/lists",
      partitionedBy = Some("centroid_id"))
    spark.sql(s"DROP TABLE IF EXISTS ${doccentName(tag)}")
    registerExternal(spark, doccentName(tag),
      s"${plaidBase(spark, tag)}/doccent")
    spark.sql(s"DROP TABLE IF EXISTS ${tombsName(tag)}")
    if (AnnIndex.tombsServable(spark, plaidBase(spark, tag)))
      registerExternal(spark, tombsName(tag),
        s"${plaidBase(spark, tag)}/tombs")
  }

  /** Argmax-cosine assignment with the assignWithVecs kernel and tie
    * convention (csim desc, centroid_id asc), doc_id riding along — ONE
    * definition so build-time and upsert-time placement can never
    * disagree.
    */
  private def assignToCentroids(docVectors: DataFrame,
      stored: DataFrame): DataFrame =
    docVectors.select(col("doc_id"), col("vec_id"), col("embedding"),
      SimilaritySearch.nearestCentroid(col("embedding"), stored)
        .as("centroid_id"))

  /** SQ8 codes beside the float chunk vectors ([[SimilaritySearch
    * .quantizeIndex]] semantics) — the quantized-stage-1 columns of
    * the round-14 layout. Parquet is columnar, so storing both costs
    * ~25% extra bytes at rest while the quantized serving path's scan
    * READS only the int8 columns (ReadSchema excludes `embedding` —
    * PlanInvariantsSpec pins it): the 4× scan-byte cut multiplies with
    * the partition pruning on the byte-heaviest layout in the engine.
    * (PLAID's paper stores ONLY compressed residuals and reconstructs;
    * the engine keeps the floats because its stage 2 is EXACT — the
    * house identity discipline — and the rerank reads candidates'
    * partitions only.)
    */
  private def withCodes(assigned: DataFrame): DataFrame = {
    import graft.functions.expressions.VectorExpressions.{max_abs,
      quantize_i8}
    assigned.select(col("doc_id"), col("vec_id"), col("embedding"),
      quantize_i8(col("embedding")).as("codes"),
      (max_abs(col("embedding")) / 127.0).as("qscale"),
      VectorOps.l2Norm(col("embedding")).as("qnorm"),
      col("centroid_id"))
  }

  /** Layout format version: 1 = float-only lists (round 13), 2 = SQ8
    * codes beside the floats (round 14). Bumps force a rebuild on the
    * next ensure; [[plaidTopKQuantized]] refuses a v1 layout loudly.
    */
  private val QVer = 2L

  private def metaMatches(meta: Map[String, Long], lists: Int, iters: Int,
      n: Long, fp: Long): Boolean =
    meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) &&
      meta.get("qver").contains(QVer)

  /** Build (or reuse) the clustered layout over the multi-vector table
    * `docVectors(doc_id, vec_id, embedding)` — one row per chunk.
    */
  def ensurePlaid(
      spark: SparkSession,
      sourceDir: String,
      docVectors: DataFrame,
      lists: Int = 32,
      iters: Int = 5,
      snapshotId: Option[String] = None): PlaidHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    def fieldsMatch = {
      val m = readMeta(base)
      m.get("lists").contains(lists.toLong) &&
        m.get("iters").contains(iters.toLong) &&
        m.get("qver").contains(QVer)
    }
    // a tombstoned layout no longer equals cluster(source): ensure's
    // contract is "serve exactly this source", so deletions force a
    // rebuild which clears them (the ensureSq8 discipline)
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists(id =>
      readMetaStrs(base).get("snapshot_id").contains(id) && fieldsMatch) &&
      tombFree
    if (snapFresh && servable(spark,
        Seq(s"$base/lists", s"$base/centroids", s"$base/doccent"),
        registered(spark, tag), () => attach(spark, tag)))
      return handle(spark, tag)
    // the fingerprint must cover doc_id too: the layout's CONTENT is the
    // chunk→doc mapping as much as the vectors — identical vectors under
    // reassigned doc_ids is a different corpus and must rebuild
    val (n, fp) = fingerprint(
      docVectors.select("doc_id", "vec_id", "embedding"))
    val metaFresh = metaMatches(readMeta(base), lists, iters, n, fp) &&
      tombFree &&
      servable(spark,
        Seq(s"$base/lists", s"$base/centroids", s"$base/doccent"),
        registered(spark, tag), () => attach(spark, tag))
    if (!metaFresh) {
      // a rebuild serves exactly its source: tombstones cleared
      AnnIndex.dropTombs(spark, base, tombsName(tag))
      val cents = SimilaritySearch.kMeansCentroids(
        docVectors.select("vec_id", "embedding"), lists, iters)
      cents.write.mode(SaveMode.Overwrite).parquet(s"$base/centroids")
      val stored = ParquetIO.read(spark, s"$base/centroids")
      val assigned = withCodes(assignToCentroids(docVectors, stored))
      spark.sql(s"DROP TABLE IF EXISTS ${listsName(tag)}")
      AnnIndex.writeLists(assigned, listsName(tag), Some(s"$base/lists"))
      // doc → centroid membership (id-only, one row per distinct pair):
      // ALL stage 1 ever reads — chunk vectors stay untouched until the
      // candidate rerank
      spark.sql(s"DROP TABLE IF EXISTS ${doccentName(tag)}")
      spark.table(listsName(tag)).select("doc_id", "centroid_id")
        .distinct()
        .write.mode(SaveMode.Overwrite)
        .option("path", s"$base/doccent")
        .format("parquet").saveAsTable(doccentName(tag))
      writeMetaFull(base,
        Seq("lists" -> lists.toLong, "iters" -> iters.toLong,
          "n_rows" -> n, "checksum" -> fp, "qver" -> QVer,
          // the upsert drift gate's trained-base size: a rebuild
          // re-clusters over the full frame, so the tail resets here
          "n_base" -> n) ++
          // BOTH replay-skip windows survive the rebuild (the
          // KeywordIndex.build discipline): a crash-replayed upsert or
          // delete batch must not re-apply after a rebuild that
          // already contains it
          readMeta(base).get("last_batch_id")
            .map("last_batch_id" -> _).toSeq ++
          readMeta(base).get("last_del_batch_id")
            .map("last_del_batch_id" -> _).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    } else if (snapshotId.isDefined)
      writeMetaFull(base, readMeta(base).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    handle(spark, tag)
  }

  /** Served view: when tombstones are committed, BOTH the chunk lists
    * and the stage-1 membership table anti-join them on doc_id (the
    * deletion-bounded set rides a broadcast). Survivor serving is
    * EXACT — stage-1 scores are per-doc independent and the rerank
    * restricts to survivors — under the build-time centroids (the IVF
    * centroid caveat: heavy deletion warrants a re-cluster, which
    * ensurePlaid's tombFree gate forces on the next ensure).
    */
  private def handle(spark: SparkSession, tag: String): PlaidHandle = {
    val base = plaidBase(spark, tag)
    val lists = spark.table(listsName(tag))
    val dc = spark.table(doccentName(tag))
    val (l, d) =
      if (spark.catalog.tableExists(tombsName(tag))) {
        val t = broadcast(spark.table(tombsName(tag)))
        (lists.join(t, Seq("doc_id"), "left_anti"),
          dc.join(t, Seq("doc_id"), "left_anti"))
      } else (lists, dc)
    PlaidHandle(l, ParquetIO.read(spark, s"$base/centroids"), d,
      readMeta(base)("lists").toInt)
  }

  def plaidExists(spark: SparkSession, sourceDir: String): Boolean =
    readMeta(plaidBase(spark, IndexStore.pathTag(sourceDir)))
      .contains("checksum")

  /** Attach-or-open without a source scan (DDL-free when unchanged). */
  def openPlaid(spark: SparkSession, sourceDir: String): PlaidHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    require(readMeta(base).contains("lists"),
      s"no persisted PLAID layout for '$sourceDir' — run ensurePlaid")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/centroids") &&
      parquetReadable(spark, s"$base/doccent"),
      s"persisted PLAID layout for '$sourceDir' is unreadable — run " +
        "ensurePlaid to rebuild")
    if (!registered(spark, tag)) attach(spark, tag)
    else {
      spark.catalog.refreshTable(listsName(tag))
      spark.catalog.refreshTable(doccentName(tag))
      AnnIndex.syncTombs(spark, base, tombsName(tag))
    }
    handle(spark, tag)
  }

  /** Per-query probe set: union over the query's tokens of each
    * token's `nProbe` nearest centroids — (query_id, centroid_id),
    * bounded by queries × tokens × nProbe. Exposed for the tune
    * harness's candidate-fraction measurement.
    */
  private[graft] def plaidProbes(queryTokens: DataFrame,
      h: PlaidHandle, nProbe: Int): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    val qt = broadcast(queryTokens.select(col("query_id"), col("qpos"),
      col("qvec")))
    qt.crossJoin(broadcast(h.centroids))
      .withColumn("csim",
        VectorOps.cosine(col("qvec"), col("centroid_vec")))
      .groupBy("query_id", "qpos")
      .agg(top_k(col("csim"), col("centroid_id").cast("long"), nProbe)
        .as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("centroid_id"))
      .select(col("query_id"),
        col("centroid_id").cast("int").as("centroid_id"))
      .distinct()
  }

  /** Restrict the partitioned lists view to a driver-collected set of
    * centroid ids as a STATIC partition filter. The probe/candidate
    * centroid sets are bounded by the LIST COUNT (distinct partition
    * values — 32 at the shipped point, never by the index or the query
    * batch), so unlike the LSH probe set (queries × tables × probes,
    * too large for literals) they are planner-side constants: the scan
    * lists only the named `centroid_id=` directories and unprobed
    * partitions' bytes are never read. DPP is NOT available here —
    * both pruning frames are aggregate/semi-join-derived with no
    * selective Filter, so Spark's PartitionPruning rule declines them
    * (the shipped round-13 q242 plan read every partition; the
    * PlanInvariantsSpec plaid gate pins the pruned shape now).
    */
  private def restrictLists(lists: DataFrame, ids: Array[Int]): DataFrame =
    if (ids.isEmpty) lists.filter(lit(false))
    else lists.filter(col("centroid_id")
      .isin(ids.sorted.map(Int.box).toSeq: _*))

  /** Stage-1 approximate MaxSim over the PROBED partitions only (the
    * probed-centroid set rides the scan as partition literals — see
    * [[restrictLists]]): the per-token max restricted to probed
    * chunks lower-bounds the true max — a doc strong only in unprobed
    * lists can be under-scored, which is exactly what the measured
    * mDocs margin bounds. (A centroid-PROXY stage 1 — PLAID's paper
    * form — was measured strictly worse on the fixtures: the
    * deterministic hash embeddings cluster poorly, so within-cluster
    * spread dominates; required mDocs 204 at FULL probes vs 116 for
    * the probed-chunk form at fraction 0.67, lists=32/sf0.01.)
    * Returns (query_id, doc_id, ascore).
    */
  private[graft] def plaidStage1(queryTokens: DataFrame,
      h: PlaidHandle, nProbe: Int): DataFrame = {
    val qt = broadcast(queryTokens.select(col("query_id"), col("qpos"),
      col("qvec"), VectorOps.l2Norm(col("qvec")).as("qnrm")))
    // materialized once: the per-query probe map feeds the join AND the
    // collected distinct-centroid literal set, guaranteed to agree
    val probes = plaidProbes(queryTokens, h, nProbe).localCheckpoint(true)
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    restrictLists(h.lists, probedIds)
      .join(broadcast(probes), Seq("centroid_id"))
      .join(qt, Seq("query_id"))
      .withColumn("cos",
        when(VectorOps.l2Norm(col("embedding")) * col("qnrm") === 0.0,
          lit(0.0))
          .otherwise(VectorOps.dot(col("embedding"), col("qvec"))
            / (VectorOps.l2Norm(col("embedding")) * col("qnrm"))))
      .groupBy("query_id", "doc_id", "qpos").agg(max("cos").as("mx"))
      .groupBy("query_id", "doc_id").agg(sum("mx").as("ascore"))
  }

  /** Candidate shortlist: top `mDocs` docs per query by stage-1 score
    * (ties doc_id asc, the engine convention).
    */
  private[graft] def plaidCandidates(queryTokens: DataFrame,
      h: PlaidHandle, nProbe: Int, mDocs: Int): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    plaidStage1(queryTokens, h, nProbe)
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("doc_id"), mDocs).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("doc_id"))
  }

  /** QUANTIZED stage 1 ([[plaidStage1]]'s int8 twin — the layout's
    * stored SQ8 codes scored with the [[graft.operators.LateInteraction
    * .maxSimQuantizedTopK]] kernel): the scan reads ONLY the probed
    * partitions' int8 columns — `codes`/`qscale`/`qnorm`, never
    * `embedding` (parquet columnar projection; PlanInvariantsSpec pins
    * the ReadSchema) — so the two scan cuts multiply: probed
    * directories × ~4× fewer bytes per scanned row. Approximate on two
    * counts (probed restriction + int8 rounding), both absorbed by the
    * measured mDocs margin (q247). Returns (query_id, doc_id, ascore).
    */
  private[graft] def plaidStage1Quantized(queryTokens: DataFrame,
      h: PlaidHandle, nProbe: Int): DataFrame = {
    import graft.functions.expressions.VectorExpressions.{dot_i8,
      max_abs, quantize_i8}
    require(h.lists.columns.contains("codes"),
      "PLAID layout predates the quantized format — run ensurePlaid " +
        "to rebuild")
    val qq = broadcast(queryTokens.select(col("query_id"), col("qpos"),
      quantize_i8(col("qvec")).as("qcodes"),
      (max_abs(col("qvec")) / 127.0).as("qqscale"),
      VectorOps.l2Norm(col("qvec")).as("qqnorm")))
    val probes = plaidProbes(queryTokens, h, nProbe).localCheckpoint(true)
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    restrictLists(h.lists, probedIds)
      .select("centroid_id", "doc_id", "codes", "qscale", "qnorm")
      .join(broadcast(probes), Seq("centroid_id"))
      .join(qq, Seq("query_id"))
      .withColumn("acos",
        when(col("qnorm") * col("qqnorm") === 0.0, lit(0.0))
          .otherwise(dot_i8(col("codes"), col("qcodes")).cast("double")
            * col("qscale") * col("qqscale")
            / (col("qnorm") * col("qqnorm"))))
      .groupBy("query_id", "doc_id", "qpos").agg(max("acos").as("mx"))
      .groupBy("query_id", "doc_id").agg(sum("mx").as("ascore"))
  }

  /** MaxSim top-k from the QUANTIZED clustered layout — the full
    * composition of the engine's two measured scan cuts on its
    * byte-heaviest table: stage 1 scans the probed partitions' int8
    * codes only ([[plaidStage1Quantized]]), stage 2 reranks in exact
    * float over ONLY the partitions holding a candidate's chunks
    * (identical to [[plaidTopK]]'s stage 2 — the same tie discipline,
    * the same partition literals). Output-identical to the full-scan
    * [[LateInteraction.maxSimTopK]] at the measured (nProbe, mDocs)
    * margin — q247 pins the zero symmetric difference at all three
    * fixture scales.
    */
  def plaidTopKQuantized(spark: SparkSession, sourceDir: String,
      queryTokens: DataFrame, k: Int = 4, nProbe: Int = 8,
      mDocs: Int = 16): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    require(mDocs >= k, s"shortlist mDocs ($mDocs) must be >= k ($k)")
    val h = openPlaid(spark, sourceDir)
    val cand = plaidStage1Quantized(queryTokens, h, nProbe)
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("doc_id"), mDocs).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("doc_id"))
      .localCheckpoint(true)
    val candCents = h.docCentroids
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
      .select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    val restricted = restrictLists(h.lists, candCents)
    LateInteraction.maxSimRerank(queryTokens,
      restricted.select("doc_id", "vec_id", "embedding"), cand, k)
  }

  /** Incremental add (round-14 — closes the round-13 "rebuild-only"
    * frontier gap): new chunk vectors join the clustered layout by
    * assignment to the STORED centroids — O(batch) per call against
    * the global re-cluster a streamed chunk corpus would otherwise
    * pay per fresh micro-batch. The [[AnnIndex.upsertIvfSq8]]
    * discipline end to end: same-operating-point requirement, loud
    * readability check, `batchId` replay-skip, tombstone clash guard
    * (re-adding chunks of a deleted doc would be silently swallowed
    * by the serving anti-join), and the IVF centroid-drift gate —
    * stage-1 pruning quality erodes as the un-clustered tail grows
    * against the trained base (`spark.graft.ann.ivf.maxTailRatio`,
    * shared with the IVF family), and a failed ingest batch beats a
    * silently degraded serving layout.
    *
    * Crash ordering: fresh doc→centroid membership pairs append
    * BEFORE the chunk rows — every intermediate state keeps doccent a
    * SUPERSET of the lists' memberships, so a crashed upsert can
    * over-scan stage 2 (extra named partitions, correct answers) but
    * never under-scan it (missed candidate chunks, wrong answers).
    * The meta commit lands last, which leaves ONE documented torn
    * window: a crash after the lists append but before the meta
    * commit, followed by a retry of the SAME batch, re-appends that
    * batch's chunk rows — `last_batch_id` was never committed, so the
    * retry is not recognized as a replay. The duplicates are pure
    * row-level copies of the batch (same doc_id/vec_id/embedding/
    * codes), so every serving read is unaffected (both stages take a
    * per-(query, doc, token) MAX and stage 2's membership ids are
    * DISTINCT), but the physical table sits above the meta's `n_rows`
    * until [[compactPlaid]] folds it — the fold dedups lists on
    * (doc_id, vec_id), reconciling the physical rows with the meta,
    * whose (n_rows, checksum) always describe the INTENDED corpus
    * (the xor fingerprint composes over the batch frame, never the
    * physical rows). A successful upsert composes the fingerprint
    * (count + xor), so `ensurePlaid` over the upserted corpus
    * recognizes the layout as fresh. Any stored snapshot_id is
    * dropped — the layout is now ahead of the snapshot that id named
    * (the upsertLsh rule).
    */
  def upsertPlaid(spark: SparkSession, sourceDir: String,
      newVectors: DataFrame, batchId: Option[Long] = None): PlaidHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists"),
      s"upsertPlaid needs an existing layout for '$sourceDir' — run " +
        "ensurePlaid first")
    require(meta.get("qver").contains(QVer),
      s"PLAID layout for '$sourceDir' predates the current format " +
        s"(qver ${meta.getOrElse("qver", 1L)} < $QVer) — run " +
        "ensurePlaid to rebuild before upserting")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/centroids") &&
      parquetReadable(spark, s"$base/doccent"),
      s"persisted PLAID layout for '$sourceDir' is unreadable — run " +
        "ensurePlaid to rebuild before upserting")
    if (!registered(spark, tag)) attach(spark, tag)
    val replayed = batchId.exists(id =>
      meta.get("last_batch_id").exists(id <= _))
    if (replayed) return handle(spark, tag)
    if (meta.get("tomb_rows").exists(_ > 0L)) {
      if (!spark.catalog.tableExists(tombsName(tag)) &&
          AnnIndex.tombsServable(spark, base))
        registerExternal(spark, tombsName(tag), s"$base/tombs")
      val clash = spark.table(tombsName(tag))
        .join(newVectors.select("doc_id"), Seq("doc_id"), "left_semi")
        .count()
      require(clash == 0L,
        s"upsertPlaid: $clash incoming doc id(s) are tombstoned — " +
          "rebuild with ensurePlaid to fold deletions before " +
          "re-inserting those docs")
    }
    val (nNew, fpNew) = fingerprint(
      newVectors.select("doc_id", "vec_id", "embedding"))
    val nBase = AnnIndex.driftGate(spark, "Plaid", meta, nNew)
    val assigned = withCodes(assignToCentroids(
        newVectors.select("doc_id", "vec_id", "embedding"),
        ParquetIO.read(spark, s"$base/centroids")))
      .localCheckpoint(true) // ONE assignment pass feeds both appends
    // membership first (see crash ordering above): the batch's OWN
    // distinct pairs append blindly — NO read of the stored membership
    // table, so ingest stays O(batch) (an exists-check anti-join would
    // scan the corpus-sized doccent per micro-batch). A doc re-touched
    // in the same centroid by a later batch lands a duplicate pair:
    // harmless to every reader (stage 2 takes DISTINCT centroid ids;
    // the upsert tomb-clash guard is a semi-join), bounded by batch
    // touches, and folded by [[compactPlaid]]'s dropDuplicates — the
    // engine's append + read-tolerant + fold-at-compaction discipline
    // (the readPurgeLog rule).
    assigned.select("doc_id", "centroid_id").distinct()
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(doccentName(tag))
    AnnIndex.writeLists(assigned, listsName(tag))
    writeMetaFull(base,
      Seq("lists" -> meta("lists"), "iters" -> meta("iters"),
        "n_rows" -> (meta("n_rows") + nNew),
        "checksum" -> (meta("checksum") ^ fpNew),
        "qver" -> meta.getOrElse("qver", QVer),
        "n_base" -> nBase) ++
        batchId.orElse(meta.get("last_batch_id"))
          .map("last_batch_id" -> _).toSeq ++
        meta.get("tomb_rows").map("tomb_rows" -> _).toSeq ++
        meta.get("last_del_batch_id")
          .map("last_del_batch_id" -> _).toSeq,
      Nil)
    spark.catalog.refreshTable(listsName(tag))
    spark.catalog.refreshTable(doccentName(tag))
    handle(spark, tag)
  }

  /** Build-or-reuse for a base + upserted-tail PLAID layout (the
    * [[AnnIndex.ensureIvfUpserted]] idiom): reused when the stored
    * meta equals base ⊕ tail; otherwise the centroids train on the
    * BASE only ([[ensurePlaid]]) and the tail is assigned to them
    * ([[upsertPlaid]]) — the shape a serving lifecycle takes (cluster
    * at build time, assign-only on ingest), and run-idempotent for
    * the q245 invariant query.
    */
  def ensurePlaidUpserted(
      spark: SparkSession,
      sourceDir: String,
      baseVectors: DataFrame,
      tailVectors: DataFrame,
      lists: Int = 32,
      iters: Int = 5): PlaidHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    val (nb, fb) = fingerprint(
      baseVectors.select("doc_id", "vec_id", "embedding"))
    val (nt, ft) = fingerprint(
      tailVectors.select("doc_id", "vec_id", "embedding"))
    val meta = readMeta(base)
    val combinedFresh = meta.get("lists").contains(lists.toLong) &&
      meta.get("iters").contains(iters.toLong) &&
      meta.get("n_rows").contains(nb + nt) &&
      meta.get("checksum").contains(fb ^ ft) &&
      meta.get("qver").contains(QVer) &&
      meta.get("tomb_rows").forall(_ == 0L) &&
      servable(spark,
        Seq(s"$base/lists", s"$base/centroids", s"$base/doccent"),
        registered(spark, tag), () => attach(spark, tag))
    if (!combinedFresh) {
      ensurePlaid(spark, sourceDir, baseVectors, lists, iters)
      upsertPlaid(spark, sourceDir, tailVectors)
    }
    handle(spark, tag)
  }

  /** Fold the per-batch file sets [[upsertPlaid]] accumulates — each
    * ingest batch appends a file per touched `centroid_id` partition
    * and a doccent file set, so a long-running stream erodes stage 1
    * into a small-files scan. FILE fold: the lists rewrite lands one
    * file per occupied centroid partition, DEDUPED on (doc_id,
    * vec_id) — vec_id is unique in any healthily-committed layout, so
    * the dedup passes its rows through verbatim and exists to fold
    * the one torn-retry window [[upsertPlaid]] documents (a crashed
    * batch re-appended whole, identical rows), reconciling the
    * physical table with the meta's intended `n_rows` (the
    * [[AnnIndex.compactPartitioned]] recipe); doccent coalesces AND
    * dedups the membership pairs upsert batches re-append (derived
    * duplicates — every consumer takes distinct centroid ids);
    * tombstones are deliberately NOT folded — survivor serving under
    * the build-time centroids is exact via the anti-join, and the
    * true deletion fold is the re-cluster ([[ensurePlaid]]'s tombFree
    * gate — the [[deletePlaid]] rule). The served view is
    * byte-identical across the fold; meta (fingerprint, replay
    * windows) untouched. Not safe concurrent with a writer.
    * `doccentFiles` defaults to 1 so the folded layout sits exactly at
    * the floor `Governance.maintain`'s path-derived estimate computes
    * (occupied partitions + one plain-dir file) — a wider setting
    * needs a maintain threshold at/above occupied+width or the leg
    * re-folds each run.
    */
  def compactPlaid(spark: SparkSession, sourceDir: String,
      doccentFiles: Int = 1): PlaidHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    require(readMeta(base).contains("lists"),
      s"no persisted PLAID layout for '$sourceDir' — run ensurePlaid")
    require(parquetReadable(spark, s"$base/lists") &&
      parquetReadable(spark, s"$base/doccent"),
      s"persisted PLAID layout for '$sourceDir' is unreadable — run " +
        "ensurePlaid to rebuild")
    if (!registered(spark, tag)) attach(spark, tag)
    AnnIndex.compactPartitioned(spark, base, listsName(tag), "lists",
      content = Some(spark.table(listsName(tag))
        .dropDuplicates("doc_id", "vec_id")))
    val side = s"$base/doccent_compact_${ProcessHandle.current.pid}"
    val tmp = s"${doccentName(tag)}_compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // the fold dedups the membership pairs upsert batches may have
    // re-appended (derived duplicates, never information) — the one
    // read-side dropDuplicates this layout carries nowhere else
    // because every doccent consumer takes distinct centroid ids
    spark.table(doccentName(tag)).dropDuplicates("doc_id", "centroid_id")
      .coalesce(doccentFiles)
      .write.mode(SaveMode.Overwrite)
      .option("path", side)
      .format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tmp")
    spark.sql(s"DROP TABLE IF EXISTS ${doccentName(tag)}")
    StoreFiles.swap(s"$base/doccent", side)
    attach(spark, tag)
    handle(spark, tag)
  }

  /** The physical surfaces maintenance measures — the lists and
    * membership TABLES, pre-tombstone-anti-join: the served [[handle]]
    * frames also carry the tombs table's files, which [[compactPlaid]]
    * deliberately never folds (the deletion fold is the re-cluster),
    * so a maintenance driver measuring through the served view would
    * see a tombstoned layout sit permanently above its floor and
    * re-fold it every run. Opens first (loud existence/readability +
    * catalog attach, the [[openPlaid]] contract).
    */
  private[graft] def maintainFrames(spark: SparkSession,
      sourceDir: String): Seq[DataFrame] = {
    val tag = IndexStore.pathTag(sourceDir)
    openPlaid(spark, sourceDir)
    Seq(spark.table(listsName(tag)), spark.table(doccentName(tag)))
  }

  /** Metadata-FILTERED MaxSim on the clustered layout — the
    * [[AnnIndex.queryIvfSq8Filtered]] contract brought to
    * late-interaction retrieval: PRE-filter semantics, top-k WITHIN
    * `allowed(doc_id)`, the filter semi-joined onto the probed lists
    * BEFORE the stage-1 max (so the shortlist spends its mDocs slots
    * on eligible docs, never on filtered-out ones — the post-filter
    * failure mode where a restrictive filter starves the result).
    * Recall is the probe's: an allowed winner must live in a probed
    * list, the same (nProbe, mDocs) margin as [[plaidTopK]] (q248
    * pins identity to the full-scan MaxSim over the allowed docs at
    * all three scales). The filter side is a doc-id list (bounded,
    * broadcast); the partition literals still prune the scan.
    */
  def plaidTopKFiltered(spark: SparkSession, sourceDir: String,
      queryTokens: DataFrame, allowed: DataFrame, k: Int = 4,
      nProbe: Int = 8, mDocs: Int = 16): DataFrame =
    filteredServe(spark, sourceDir, queryTokens, allowed, k, nProbe,
      mDocs, plaidStage1)

  /** [[plaidTopKFiltered]] through the QUANTIZED stage 1 (round-15 —
    * the layout's last composition hole): the float filtered path
    * loses the int8 scan win exactly when a metadata filter is
    * present — the byte-heaviest layout in the engine reads full
    * float embeddings for its shortlist scan the moment a filter
    * appears. This verb keeps both disciplines at once (the
    * [[AnnIndex.queryIvfSq8Filtered]] contract brought to the
    * quantized clustered layout): the allowed-set semi-join restricts
    * the CODES scan — stage 1 reads probed partitions × int8 columns
    * only, ReadSchema still excludes `embedding` (PlanInvariantsSpec
    * pins both) — and the pre-filter semantics are unchanged (the
    * shortlist spends its mDocs slots on eligible docs only; the
    * exact float rerank restricts to allowed candidates' partitions).
    * Identity contract: q250 pins zero symmetric difference vs the
    * filtered full-scan MaxSim plus a disallowed-served count of 0 at
    * every fixture scale, at the same (nProbe, mDocs) margin as
    * [[plaidTopKQuantized]] (int8 rounding and the probe restriction
    * are the only approximation surfaces, both absorbed by the
    * measured margin — the q247 argument, unchanged by filtering
    * because the filter only SHRINKS each shortlist's competitor
    * set).
    */
  def plaidTopKFilteredQuantized(spark: SparkSession, sourceDir: String,
      queryTokens: DataFrame, allowed: DataFrame, k: Int = 4,
      nProbe: Int = 8, mDocs: Int = 16): DataFrame =
    filteredServe(spark, sourceDir, queryTokens, allowed, k, nProbe,
      mDocs, plaidStage1Quantized)

  /** Shared two-stage filtered serving: semi-join the allowed set onto
    * BOTH stage surfaces, shortlist via `stage1`, rerank in exact
    * float over the allowed candidates' membership partitions.
    */
  private def filteredServe(spark: SparkSession, sourceDir: String,
      queryTokens: DataFrame, allowed: DataFrame, k: Int, nProbe: Int,
      mDocs: Int,
      stage1: (DataFrame, PlaidHandle, Int) => DataFrame): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    require(mDocs >= k, s"shortlist mDocs ($mDocs) must be >= k ($k)")
    val h = openPlaid(spark, sourceDir)
    val allow = broadcast(allowed.select("doc_id").distinct())
    val hF = h.copy(
      lists = h.lists.join(allow, Seq("doc_id"), "left_semi"),
      docCentroids = h.docCentroids.join(allow, Seq("doc_id"),
        "left_semi"))
    val cand = stage1(queryTokens, hF, nProbe)
      .groupBy("query_id")
      .agg(top_k(col("ascore"), col("doc_id"), mDocs).as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("doc_id"))
      .localCheckpoint(true)
    val candCents = hF.docCentroids
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
      .select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    val restricted = restrictLists(hF.lists, candCents)
    LateInteraction.maxSimRerank(queryTokens,
      restricted.select("doc_id", "vec_id", "embedding"), cand, k)
  }

  /** Tombstone deletes by doc_id — the erasure verb that puts the
    * clustered late-interaction layout under the whole-engine purge
    * contract (a deployment serving MaxSim from it must stop serving
    * erased documents without a rebuild). Merge-on-read: ids append
    * to a doc-id tombstone table committed via meta tomb_rows (orphan
    * sweep first — the single-deleter discipline); every served view
    * anti-joins it. Deleting absent/already-deleted ids is a no-op;
    * `batchId` rides its own replay-skip counter. A delete moves the
    * layout past any named snapshot (snapshot_id dropped) and past
    * the source content (the next ensurePlaid over the original
    * source rebuilds, clearing deletions — no separate compact verb:
    * re-clustering IS the fold). Returns committed tombstone count.
    */
  def deletePlaid(spark: SparkSession, sourceDir: String, ids: DataFrame,
      batchId: Option[Long] = None): Long = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = plaidBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("lists"),
      s"no persisted PLAID layout for '$sourceDir' — run ensurePlaid")
    if (!registered(spark, tag)) attach(spark, tag)
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed) return meta.getOrElse("tomb_rows", 0L)
    AnnIndex.commitDocTombs(spark, base, tombsName(tag), ids, meta,
      batchId)
  }

  /** MaxSim top-k served from the stored clustered layout — probed-
    * partition stage 1 (true chunk cosines over the probed lists only;
    * see [[plaidStage1]] for why the paper's centroid-proxy form was
    * rejected on measurement), exact stage 2 over ONLY the partitions
    * holding a candidate doc's chunks (the membership table names
    * them; they land as partition literals — [[restrictLists]]).
    * Output-identical to the full scan at
    * the measured (nProbe, mDocs) margin (q242).
    */
  def plaidTopK(spark: SparkSession, sourceDir: String,
      queryTokens: DataFrame, k: Int = 4, nProbe: Int = 8,
      mDocs: Int = 16): DataFrame = {
    require(mDocs >= k, s"shortlist mDocs ($mDocs) must be >= k ($k)")
    val h = openPlaid(spark, sourceDir)
    val cand = plaidCandidates(queryTokens, h, nProbe, mDocs)
      .localCheckpoint(true)
    // the rerank needs EVERY chunk of each candidate doc: the
    // membership table names exactly the partitions that can hold one,
    // and that set (≤ list count) lands on the scan as partition
    // literals — the rerank reads only those directories' bytes
    val candCents = h.docCentroids
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
      .select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    val restricted = restrictLists(h.lists, candCents)
    LateInteraction.maxSimRerank(queryTokens,
      restricted.select("doc_id", "vec_id", "embedding"), cand, k)
  }
}
