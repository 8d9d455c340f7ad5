package graft.operators

import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STORE PURGE — right-to-be-forgotten as ONE whole-engine verb
  * with a served-nowhere proof, the guarantee a data platform is
  * audited on (public art: GDPR/CCPA erasure pipelines; Delta
  * `DELETE` + `VACUUM`; Pinecone `delete(ids=)`,
  * `/root/reference/AI.py:138`'s store composed with retrieval).
  *
  * The engine's per-store delete verbs already exist — ANN tombstones
  * ([[graft.sources.AnnIndex.deleteLsh]]/deleteIvf/deleteSq8/deleteBq
  * and the composed layouts), postings tombstones
  * ([[graft.sources.KeywordIndex.deletePostings]]), and the rewrite
  * purges added for the stores that index DERIVED data
  * ([[graft.sources.DedupStore.purgeDocs]]/purgeNear,
  * [[graft.sources.SplitStore.purge]],
  * [[graft.sources.Scd2Store.purgeKeys]]). What a platform audit needs
  * is the composition: one [[purge]] that walks EVERY persisted layout
  * a document can live in, and one [[audit]] that re-reads every
  * SERVING surface and proves zero purged ids served anywhere.
  *
  * Two ledgers, kept deliberately separate in the receipt:
  *  - ANN + postings layouts TOMBSTONE (merge-on-read; the id set is
  *    retained until a compact* verb folds it physically — the
  *    documented re-add refusal rides on it);
  *  - dedup/split/SCD2 stores REWRITE (the purged rows — content
  *    hashes, MinHash signatures, assignments, intervals: all derived
  *    data under an erasure request — are physically gone at return).
  * The raw source table itself is the lake's own erasure step (this
  * engine does not own it — see the
  * [[graft.plans.LshAnnPlan.Config]] delete-contract note).
  *
  * Scale shape: one bounded `ids` set drives every leg; ANN deletes
  * append id-only tombstones (no layout rewrite), the store rewrites
  * touch only the victims' hash buckets or ride a
  * [[graft.sources.StoreFiles.swap]]. Nothing here scans a layout more
  * than once, and the audit's membership checks are semi-joins of
  * 8-byte ids against the served views.
  */
object Governance {

  /** Which persisted layouts the purge walks. ANN entries are the
    * `sourceDir` keys the layouts were ensured under; store entries
    * are `storeKey`s; `scd2` pairs a storeKey with its key column.
    * Plain-PQ layouts ([[graft.sources.AnnIndex.ensurePq]]) have no
    * delete verb by design (codebook-only demo layout; the composed
    * IVF-PQ is the serving path) — erase one by re-running ensurePq
    * on the surviving source.
    *
    * `sketches` (round-15) is a MAINTENANCE-ONLY family: KMV panes
    * hold group-keyed hash-set aggregates — no per-doc rows exist to
    * purge or audit, and a KMV cannot subtract a member — so [[purge]]
    * and [[audit]] skip it (the erasure story for sketch state is
    * retention: [[graft.sources.SketchStore.expirePanes]] / drop), and
    * [[maintain]] walks it because `streamingDistinctPanes` appends
    * one immutable pane file-set per micro-batch forever (the same
    * small-file accumulation class as the line store, one store over).
    */
  final case class PurgeScope(
      lsh: Seq[String] = Nil,
      ivf: Seq[String] = Nil,
      sq8: Seq[String] = Nil,
      bq: Seq[String] = Nil,
      ivfSq8: Seq[String] = Nil,
      ivfPq: Seq[String] = Nil,
      ivfBq: Seq[String] = Nil,
      opqIvfPq: Seq[String] = Nil,
      graphs: Seq[String] = Nil,
      postings: Seq[String] = Nil,
      plaid: Seq[String] = Nil,
      impacts: Seq[String] = Nil,
      indexStores: Seq[String] = Nil,
      dedupSeen: Seq[String] = Nil,
      dedupNear: Seq[String] = Nil,
      dedupLines: Seq[String] = Nil,
      splits: Seq[String] = Nil,
      scd2: Seq[(String, String)] = Nil,
      sketches: Seq[String] = Nil)

  /** Purge `ids` (one column, the vec_id/doc_id identity shared by the
    * scoped layouts) from every layout in `scope`. Returns the purge
    * RECEIPT: one row per (surface, store) with the action taken and
    * the count — `tombstoned` legs report the requested distinct-id
    * count (the tombstone set admits ids the layout never held; the
    * served anti-join is what matters), `rewritten` legs report rows
    * physically removed. `batchId` rides each tombstoning verb's
    * replay-skip counter and [[graft.sources.Scd2Store.purgeKeys]]'
    * purge counter, so a crashed-and-retried purge (the
    * foreachBatch/idempotent-job contract) neither double-counts
    * tombstones nor re-runs completed legs; the row-delete rewrites are
    * idempotent by construction (erasing erased rows is a no-op; a
    * bounded any-victim probe makes the re-run also CHEAP), and the
    * one decrement rewrite (dedupLines) is strictly replay-guarded —
    * see [[graft.sources.DedupStore.purgeLineContributions]].
    * Ordering: rewrites run first, tombstones last — a crash
    * mid-purge then leaves layouts that either never held the ids or
    * still hold them un-tombstoned, and the retry converges; nothing
    * is ever half-served.
    */
  def purge(
      spark: SparkSession,
      ids: DataFrame,
      scope: PurgeScope,
      batchId: Option[Long] = None,
      texts: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val idCol = ids.columns.head
    val victims = ids.select(col(idCol).as("vec_id")).distinct()
      .localCheckpoint(true)
    val nIds = victims.count()
    val docs = victims.select(col("vec_id").as("doc_id"))
    val receipt = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)]

    // --- rewriting legs first (see ordering note above)
    scope.indexStores.foreach { p =>
      receipt += (("index_store", p, "rewritten",
        IndexStore.purge(spark, p, docs)))
    }
    scope.dedupSeen.foreach { k =>
      receipt += (("dedup_seen", k, "rewritten",
        DedupStore.purgeDocs(spark, k, docs)))
    }
    scope.dedupNear.foreach { k =>
      receipt += (("dedup_near", k, "rewritten",
        DedupStore.purgeNear(spark, k, docs)))
    }
    scope.dedupLines.foreach { k =>
      // the line store's rows are cross-document AGGREGATES — erasure
      // is a contribution decrement and needs the purged docs'
      // pre-deletion text (restricted to the purged ids here); the
      // correctness statement is the survivors-parity invariant
      // (DedupStoreSpec), not an id-membership audit row
      require(texts.nonEmpty,
        "purge: a dedupLines scope needs the purged documents' " +
          "pre-deletion (doc_id, text) frame — pass texts = Some(...)")
      require(batchId.nonEmpty,
        "purge: a dedupLines scope needs a batchId — the line store's " +
          "contribution decrement is replay-guarded, not naturally " +
          "idempotent")
      val t = texts.get
      val victimTexts = t.join(
        docs.select(col("doc_id").as(t.columns.head)),
        Seq(t.columns.head), "left_semi")
      receipt += (("dedup_lines", k, "rewritten",
        DedupStore.purgeLineContributions(spark, k, victimTexts,
          purgeBatchId = batchId.get, idCol = t.columns.head)))
    }
    scope.splits.foreach { k =>
      receipt += (("split", k, "rewritten",
        SplitStore.purge(spark, k, docs)))
    }
    scope.scd2.foreach { case (k, keyCol) =>
      val before = Scd2Store.readDim(spark, k)
        .join(victims.select(col("vec_id").as(keyCol)), Seq(keyCol),
          "left_semi").count()
      Scd2Store.purgeKeys(spark, k,
        victims.select(col("vec_id").as(keyCol)), keyCol, batchId)
      receipt += (("scd2", k, "rewritten", before))
    }

    // --- tombstoning legs (merge-on-read; compact* folds physically)
    scope.lsh.foreach { d =>
      AnnIndex.deleteLsh(spark, d, victims, batchId)
      receipt += (("ann_lsh", d, "tombstoned", nIds))
    }
    scope.ivf.foreach { d =>
      AnnIndex.deleteIvf(spark, d, victims, batchId)
      receipt += (("ann_ivf", d, "tombstoned", nIds))
    }
    scope.sq8.foreach { d =>
      AnnIndex.deleteSq8(spark, d, victims, batchId)
      receipt += (("ann_sq8", d, "tombstoned", nIds))
    }
    scope.bq.foreach { d =>
      AnnIndex.deleteBq(spark, d, victims, batchId)
      receipt += (("ann_bq", d, "tombstoned", nIds))
    }
    scope.ivfSq8.foreach { d =>
      AnnIndex.deleteIvfSq8(spark, d, victims, batchId)
      receipt += (("ann_ivf_sq8", d, "tombstoned", nIds))
    }
    scope.ivfPq.foreach { d =>
      AnnIndex.deleteIvfPq(spark, d, victims, batchId)
      receipt += (("ann_ivf_pq", d, "tombstoned", nIds))
    }
    scope.ivfBq.foreach { d =>
      AnnIndex.deleteIvfBq(spark, d, victims, batchId)
      receipt += (("ann_ivf_bq", d, "tombstoned", nIds))
    }
    scope.opqIvfPq.foreach { d =>
      // the composed delete verb: tombstones through the inner IVF-PQ
      // store AND invalidates the outer checksum, so a later ensure
      // can never reuse the layout after the tombstone fold
      AnnIndex.deleteOpqIvfPq(spark, d, victims, batchId)
      receipt += (("ann_opq_ivf_pq", d, "tombstoned", nIds))
    }
    scope.graphs.foreach { d =>
      // graph tombstones cover results AND routing (both edge
      // endpoints anti-joined); replayed ids fold away inside the verb
      GraphIndex.deleteGraph(spark, d, victims)
      receipt += (("ann_graph", d, "tombstoned", nIds))
    }
    scope.postings.foreach { d =>
      KeywordIndex.deletePostings(spark, d, docs, batchId = batchId)
      receipt += (("postings", d, "tombstoned", nIds))
    }
    scope.plaid.foreach { d =>
      PlaidIndex.deletePlaid(spark, d, docs, batchId = batchId)
      receipt += (("plaid", d, "tombstoned", nIds))
    }
    scope.impacts.foreach { d =>
      // poison-until-rebuild: the layout refuses to SERVE anything
      // until re-ensured over the survivors (its corpus statistics are
      // baked at build time — see ImpactIndex.deleteImpacts)
      ImpactIndex.deleteImpacts(spark, d, docs, batchId = batchId)
      receipt += (("kwbmw", d, "poisoned", nIds))
    }
    receipt.toSeq.toDF("surface", "store", "action", "n_purged")
  }

  /** The SERVED-NOWHERE proof: re-open every serving surface in
    * `scope` and count purged ids still visible — one row per
    * (surface, store, table) with `n_served_purged`, which a completed
    * purge makes 0 everywhere. Counts come from the layouts' OWN open
    * verbs (openLsh/openIvf/…/openPostings/read/readDim — the exact
    * frames every query verb scans), so a zero here is a zero for
    * every query shape over that surface; the q218 panel additionally
    * drives representative query verbs end-to-end (kNN with the
    * victims' own pre-purge vectors — the probes most likely to
    * retrieve them — BM25 over victim terms).
    *
    * Cost shape: ONE Spark job for the whole panel — every surface's
    * id projection semi-joins the broadcast victim set inside one
    * union plan with a single aggregate (the first cut ran one count
    * job per surface table, ~13 driver-synchronized jobs; with the
    * purge verbs' no-op probes this took the q218 bench line from
    * 20.6 to 10.5 s — the remainder is per-open catalog DDL and the
    * stores' own replay verification, the certification itself).
    */
  def audit(
      spark: SparkSession,
      ids: DataFrame,
      scope: PurgeScope): DataFrame = {
    import spark.implicits._
    val idCol = ids.columns.head
    val victims = ids.select(col(idCol).cast("long").as("__id"))
      .distinct().localCheckpoint(true)
    val frames = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, DataFrame)]
    def add(surface: String, store: String, table: String,
        df: DataFrame, on: String): Unit =
      frames += ((surface, store, table,
        df.select(col(on).cast("long").as("__id"))))
    scope.lsh.foreach { d =>
      val h = AnnIndex.openLsh(spark, d)
      add("ann_lsh", d, "vecs", h.vecs, "vec_id")
      add("ann_lsh", d, "buckets", h.buckets, "vec_id")
    }
    scope.ivf.foreach { d =>
      add("ann_ivf", d, "lists", AnnIndex.openIvf(spark, d).lists,
        "vec_id")
    }
    scope.sq8.foreach { d =>
      val h = AnnIndex.openSq8(spark, d)
      add("ann_sq8", d, "codes", h.codes, "vec_id")
      add("ann_sq8", d, "vecs", h.vecs, "vec_id")
    }
    scope.bq.foreach { d =>
      val h = AnnIndex.openBq(spark, d)
      add("ann_bq", d, "codes", h.codes, "vec_id")
      add("ann_bq", d, "vecs", h.vecs, "vec_id")
    }
    scope.ivfSq8.foreach { d =>
      val h = AnnIndex.openIvfSq8(spark, d)
      add("ann_ivf_sq8", d, "lists", h.lists, "vec_id")
      add("ann_ivf_sq8", d, "vecs", h.vecs, "vec_id")
    }
    scope.ivfPq.foreach { d =>
      val h = AnnIndex.openIvfPq(spark, d)
      add("ann_ivf_pq", d, "lists", h.lists, "vec_id")
      add("ann_ivf_pq", d, "vecs", h.vecs, "vec_id")
    }
    scope.ivfBq.foreach { d =>
      val h = AnnIndex.openIvfBq(spark, d)
      add("ann_ivf_bq", d, "lists", h.lists, "vec_id")
      add("ann_ivf_bq", d, "vecs", h.vecs, "vec_id")
    }
    scope.opqIvfPq.foreach { d =>
      val h = AnnIndex.openOpqIvfPq(spark, d)
      add("ann_opq_ivf_pq", d, "lists", h.inner.lists, "vec_id")
      add("ann_opq_ivf_pq", d, "vecs", h.inner.vecs, "vec_id")
    }
    scope.graphs.foreach { d =>
      val h = GraphIndex.openGraph(spark, d)
      add("ann_graph", d, "vecs", h.vecs, "vec_id")
      // a purged id must appear at NEITHER edge endpoint — routing
      // through a tombstoned node is also a serve
      add("ann_graph", d, "edges_src", h.edges.select(col("src")), "src")
      add("ann_graph", d, "edges_dst", h.edges.select(col("dst")), "dst")
    }
    scope.postings.foreach { d =>
      add("postings", d, "postings",
        KeywordIndex.openPostings(spark, d), "doc_id")
    }
    scope.plaid.foreach { d =>
      val h = PlaidIndex.openPlaid(spark, d)
      add("plaid", d, "lists", h.lists, "doc_id")
      add("plaid", d, "doccent", h.docCentroids, "doc_id")
    }
    scope.impacts.foreach { d =>
      if (ImpactIndex.impactsTombstoned(spark, d)) {
        // poisoned: the layout must REFUSE to serve — verify it does,
        // then it trivially serves zero purged ids
        val refused =
          try { ImpactIndex.openImpacts(spark, d); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, s"audit: impact layout '$d' is tombstoned " +
          "but still serves — the poison contract is broken")
        frames += (("kwbmw", d, "poisoned", victims.limit(0)))
      } else
        add("kwbmw", d, "impacts",
          ImpactIndex.openImpacts(spark, d).impacts, "doc_id")
    }
    scope.indexStores.foreach { p =>
      if (IndexStore.exists(p))
        add("index_store", p, "data", IndexStore.read(spark, p),
          "doc_id")
      else frames += (("index_store", p, "data", victims.limit(0)))
    }
    scope.dedupSeen.foreach { k =>
      if (DedupStore.seenCount(spark, k) > 0L)
        add("dedup_seen", k, "fps", DedupStore.readSeen(spark, k),
          "doc_id")
      else frames += (("dedup_seen", k, "fps",
        victims.limit(0)))
    }
    scope.dedupNear.foreach { k =>
      val (bands, sigs) = DedupStore.readNearFrames(spark, k)
      add("dedup_near", k, "bands", bands, "doc_id")
      add("dedup_near", k, "sigs", sigs, "doc_id")
    }
    scope.splits.foreach { k =>
      add("split", k, "assign", SplitStore.read(spark, k), "doc_id")
      add("split", k, "conflicts", SplitStore.readConflicts(spark, k),
        "doc_id")
    }
    scope.scd2.foreach { case (k, keyCol) =>
      add("scd2", k, "dim", Scd2Store.readDim(spark, k), keyCol)
    }
    // one union plan, one aggregate, one job for the whole panel
    val counts: Map[(String, String, String), Long] =
      frames.map { case (sf, st, t, df) =>
        df.join(broadcast(victims), Seq("__id"), "left_semi")
          .select(lit(sf).as("surface"), lit(st).as("store"),
            lit(t).as("tbl"))
      }.reduceOption(_ unionByName _) match {
        case None => Map.empty
        case Some(u) => u.groupBy("surface", "store", "tbl")
          .agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))
            -> r.getLong(3)).toMap
      }
    frames.map { case (sf, st, t, _) =>
      (sf, st, t, counts.getOrElse((sf, st, t), 0L))
    }.toSeq.toDF("surface", "store", "table", "n_served_purged")
  }

  /** [[purge]] + [[audit]] with a PERSISTED COMPLIANCE TRAIL — the
    * record an erasure audit is answered from (public art: GDPR
    * Art. 30 processing records; deletion-request logs every data
    * platform keeps): `logDir` accumulates, per purge batch, the id
    * ROSTER (the identifiers erased — identifiers, not content, are
    * the standard retainable record of an erasure request), the
    * RECEIPT (which store did what), and the AUDIT rows (the
    * served-nowhere proof AS OF the purge). Append-only parquet +
    * meta-after-data with `batchId` replay-skip (the store
    * discipline), so a crashed-and-retried logged purge neither
    * double-logs nor re-runs completed legs. Returns the audit frame;
    * the caller fails the batch loudly if any `n_served_purged` > 0.
    */
  def purgeLogged(
      spark: SparkSession,
      ids: DataFrame,
      scope: PurgeScope,
      logDir: String,
      batchId: Long): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.sources.StoreFiles
    val metaP = Paths.get(logDir, "_purgelog_meta.json")
    val committed = StoreFiles.read(metaP).fold(-1L)(t =>
      StoreFiles.required(StoreFiles.nums(t), "last_batch_id",
        "purge log meta", metaP))
    if (batchId <= committed)
      return graft.sources.ParquetIO.read(spark, s"$logDir/audit")
        .filter(col("batch_id") === batchId)
        .drop("batch_id")
    val idCol = ids.columns.head
    val roster = ids.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    val receipt = purge(spark, roster, scope, Some(batchId))
      .withColumn("batch_id", lit(batchId))
    val auditDf = audit(spark, roster, scope)
      .localCheckpoint(true)
    // crash-retry append exclusion per table (the DedupStore rule)
    def appendOnce(df: DataFrame, dir: String): Unit = {
      val already = Files.exists(Paths.get(dir)) &&
        graft.sources.ParquetIO.read(spark, dir)
          .filter(col("batch_id") === batchId).limit(1)
          .collect().nonEmpty
      if (!already)
        df.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dir)
    }
    appendOnce(roster.withColumn("batch_id", lit(batchId)),
      s"$logDir/roster")
    appendOnce(receipt, s"$logDir/receipt")
    appendOnce(auditDf.withColumn("batch_id", lit(batchId)),
      s"$logDir/audit")
    StoreFiles.commit(metaP, "last_batch_id" -> batchId)
    auditDf
  }

  /** The accumulated compliance trail: ("roster" | "receipt" |
    * "audit") frames of every logged purge batch.
    */
  def readPurgeLog(spark: SparkSession, logDir: String,
      table: String): DataFrame = {
    require(Set("roster", "receipt", "audit").contains(table),
      s"readPurgeLog: unknown table '$table'")
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(logDir, "_purgelog_meta.json")),
      s"no committed purge log at '$logDir'")
    graft.sources.ParquetIO.read(spark, s"$logDir/$table")
      .dropDuplicates() // a crash between append and meta can double
  }

  /** Cross-store MAINTENANCE driver (round-13): walk every layout the
    * scope names, measure its physical data-file count (the served
    * view's `inputFiles` — exactly the files a scan pays for, tombs
    * included), and compact any layout past `maxFiles` through its own
    * journaled compact verb. File count — not row count — is what
    * erodes scan planning under a long-running streamed ingest (each
    * micro-batch appends a file set per table), and per-layout manual
    * compaction doesn't survive a deployment with dozens of stores;
    * this is the scheduled "vacuum" entry point.
    *
    * Idempotent at ANY threshold (round-14 auto-floor): each layout's
    * post-compaction floor — bucketed tables fold to one file per
    * bucket, value-partitioned stores to one file per occupied
    * partition — is computed from the served files themselves (bucket
    * ids ride the file names, partitions ride the directory names)
    * and CLAMPS the caller's `maxFiles` per layout, so a below-floor
    * threshold degrades to "compact once, then no-op" instead of
    * recompacting that layout every run (the fe661ac-documented
    * footgun, automated away). Answers are byte-identical
    * across a run (each compact verb's own contract — tombstone FOLDS
    * change bytes, not the served view; q243 extends the q218-style
    * audit to prove no served answer moves). Scoped layouts must
    * exist — the verbs fail loudly otherwise, the purge discipline.
    * Not safe concurrent with writers (the compact* rule). Scope
    * families without a compact verb (indexStores, scd2, and the
    * rebuild-only impacts) are ignored; plaid's leg (round 14, with
    * upsertPlaid) folds FILES only — its deletion fold remains the
    * re-cluster; round 15 closes the last two accumulating families
    * (opqIvfPq through its inner store's fold, sketch panes through
    * compactPanes — maintenance-only, see the [[PurgeScope]] note).
    * Returns one row per examined layout:
    * (store, surface, files_before, files_after, compacted).
    */
  def maintain(spark: SparkSession, scope: PurgeScope,
      maxFiles: Int = 32): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long, Boolean)]
    // A served layout's post-compaction floor, from its file paths
    // alone: within each leaf directory, bucketed files (Spark names
    // them part-…_<bucketId>.c…) fold to one per DISTINCT bucket id,
    // anything else folds to one file per directory — so the sum is
    // bucket count for bucketed tables, occupied-partition count for
    // value-partitioned stores, one for plain dirs. Slightly over the
    // true floor only for multi-file plain dirs whose verb coalesces
    // wider than 1 — those verbs clamp their width to maxFiles
    // already, so the estimate errs on the no-op side, never the
    // recompact-every-run side.
    val bucketId = raw"_(\d{5})\.c\d".r
    def floorOf(files: Seq[String]): Long =
      files.groupBy(f => f.substring(0, f.lastIndexOf('/'))).map {
        case (_, fs) =>
          val ids = fs.flatMap(f =>
            bucketId.findFirstMatchIn(
              f.substring(f.lastIndexOf('/') + 1)).map(_.group(1)))
          if (ids.size == fs.size) ids.distinct.size else 1
      }.sum.toLong
    def leg(family: String, keys: Seq[String],
        frames: String => Seq[DataFrame],
        compact: String => Unit,
        floor: Seq[String] => Long = floorOf): Unit =
      keys.foreach { key =>
        def files(): Seq[String] =
          frames(key).flatMap(_.inputFiles).distinct
        val fsBefore = files()
        val before = fsBefore.size.toLong
        // the auto-floor clamp: compacting below the layout's own
        // floor is impossible, so a below-floor threshold must not
        // trigger a rewrite every run
        val doIt = before > math.max(maxFiles.toLong, floor(fsBefore))
        if (doIt) compact(key)
        val after = if (doIt) files().size.toLong else before
        out += ((family, key, before, after, doIt))
      }
    leg("ann_lsh", scope.lsh,
      k => { val h = AnnIndex.openLsh(spark, k)
        Seq(h.buckets, h.vecs) },
      k => AnnIndex.compactLsh(spark, k))
    leg("ann_ivf", scope.ivf,
      k => { val h = AnnIndex.openIvf(spark, k)
        Seq(h.centroids, h.lists) },
      k => AnnIndex.compactIvf(spark, k))
    leg("ann_sq8", scope.sq8,
      k => { val h = AnnIndex.openSq8(spark, k)
        Seq(h.codes, h.vecs) },
      k => AnnIndex.compactSq8(spark, k))
    leg("ann_bq", scope.bq,
      k => { val h = AnnIndex.openBq(spark, k)
        Seq(h.codes, h.vecs) },
      k => AnnIndex.compactBq(spark, k))
    leg("ann_ivfsq8", scope.ivfSq8,
      k => { val h = AnnIndex.openIvfSq8(spark, k)
        Seq(h.centroids, h.lists, h.vecs) },
      k => AnnIndex.compactIvfSq8(spark, k))
    leg("ann_ivfpq", scope.ivfPq,
      k => { val h = AnnIndex.openIvfPq(spark, k)
        Seq(h.centroids, h.codebook, h.lists, h.vecs) },
      k => AnnIndex.compactIvfPq(spark, k))
    leg("ann_ivfbq", scope.ivfBq,
      k => { val h = AnnIndex.openIvfBq(spark, k)
        Seq(h.centroids, h.lists, h.vecs) },
      k => AnnIndex.compactIvfBq(spark, k))
    leg("graph", scope.graphs,
      k => { val h = GraphIndex.openGraph(spark, k)
        Seq(h.edges, h.vecs) },
      k => GraphIndex.compactGraph(spark, k))
    leg("kw_postings", scope.postings,
      k => Seq(KeywordIndex.openPostings(spark, k)),
      // the rewrite width rides the threshold so the compacted layout
      // lands AT or under it (bucketed layouts' floor is their bucket
      // count instead — pick maxFiles at or above it, or maintenance
      // re-compacts them every run)
      k => KeywordIndex.compactPostings(spark, k,
        numFiles = math.min(8, maxFiles)))
    leg("dedup_seen", scope.dedupSeen,
      k => if (DedupStore.seenCount(spark, k) > 0L)
        Seq(DedupStore.readSeen(spark, k)) else Seq.empty,
      k => DedupStore.compactSeen(spark, k))
    leg("dedup_near", scope.dedupNear,
      k => { val (bands, sigs) = DedupStore.readNearFrames(spark, k)
        Seq(bands, sigs) },
      // the sigs fold width must land AT floorOf's estimate for its
      // dir — which is 1 (plain dir, non-bucketed names) — or the
      // folded layout sits above the computed floor and recompacts
      // every run at ANY threshold: with width w and B bands files,
      // post-fold count B+w vs floor B+1, so any w>1 re-trips the
      // B+w > max(maxFiles, B+1) check for maxFiles < B+w. Clamping
      // to min(8, maxFiles) (the first fix attempt) only closed the
      // maxFiles=1 case; width 1 closes every threshold
      k => DedupStore.compactNear(spark, k, sigFiles = 1))
    leg("dedup_lines", scope.dedupLines,
      k => if (DedupStore.lineCount(spark, k) > 0L)
        Seq(DedupStore.readLineDf(spark, k)) else Seq.empty,
      k => DedupStore.compactLineDedup(spark, k))
    leg("plaid", scope.plaid,
      // the raw tables, NOT the served handle: the handle anti-joins
      // the tombs table, whose data files compactPlaid deliberately
      // never folds (the deletion fold is the re-cluster) — measured
      // through the handle, a tombstoned layout sits permanently above
      // its floor and re-folds every run (the round-14 advice defect)
      k => PlaidIndex.maintainFrames(spark, k),
      k => { PlaidIndex.compactPlaid(spark, k); () })
    leg("ann_opqivfpq", scope.opqIvfPq,
      k => { val h = AnnIndex.openOpqIvfPq(spark, k)
        Seq(h.rotation, h.inner.centroids, h.inner.codebook,
          h.inner.lists, h.inner.vecs) },
      k => { AnnIndex.compactOpqIvfPq(spark, k); () })
    leg("sketch_panes", scope.sketches,
      k => if (SketchStore.exists(spark, k))
        Seq(SketchStore.panesDf(spark, k)) else Seq.empty,
      k => SketchStore.compactPanes(spark, k),
      // the path-derived floor is wrong for this store: compactPanes
      // RE-VALUES the partition column (every pane lands in the one
      // batch_id=last partition), so occupied-dirs-before is not the
      // post-fold dir count — the verb's own coalesce width (1) is
      floor = _ => 1L)
    leg("split", scope.splits,
      k => Seq(SplitStore.read(spark, k)),
      k => SplitStore.compact(spark, k,
        numFiles = math.min(8, maxFiles)))
    out.toSeq.toDF("store", "surface", "files_before", "files_after",
      "compacted")
  }

  /** Fold the one-file-set-per-batch append history of the purge log
    * into few files per table, one [[graft.sources.StoreFiles.swap]]
    * per table (a crash inside its rename window loses that table's
    * dir, which [[readPurgeLog]] fails loudly on — never a silently
    * emptied audit trail).
    * Compaction rewrites FILES, never records (the dropDuplicates
    * fold it applies is exactly what [[readPurgeLog]] applies on every
    * read); the meta and replay windows are untouched. Not safe
    * concurrent with a purge writer.
    */
  def compactPurgeLog(spark: SparkSession, logDir: String,
      numFiles: Int = 4): Unit = {
    import graft.sources.StoreFiles
    Seq("roster", "receipt", "audit").foreach { t =>
      val live = s"$logDir/$t"
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(live))) {
        val side = s"${live}__compact"
        StoreFiles.rm(side)
        graft.sources.ParquetIO.read(spark, live).dropDuplicates()
          .coalesce(numFiles)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(side)
        StoreFiles.swap(live, side)
      }
    }
  }
}
