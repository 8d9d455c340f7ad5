package graft.sources

import graft.operators.{CorpusOps, Dedup}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** PERSISTED, STABLE train/val/test assignments for a GROWING corpus —
  * the incremental closure of [[CorpusOps.leakageFreeSplit]]. A
  * one-shot split re-run on corpus version N+1 can FLIP documents
  * across the boundary (a new smaller-id member changes a cluster's
  * representative, so its md5 bucket changes): a doc that trained in
  * v1 lands in v2's test set — exactly the train-on-test contamination
  * the split exists to prevent. This store makes assignments
  * WRITE-ONCE: a document's (rep_id, split) never changes after it is
  * assigned, and every increment keys its NEW documents on the
  * clusters' STORED identity.
  *
  * Batch semantics ([[assign]]): `pairs` are match edges among
  * newDocs ∪ already-assigned docs (the caller's stage — blocked,
  * banded, an incremental dedup-store probe; never all-pairs).
  * Assigned endpoints collapse to their STORED rep before the CC
  * closure, so a component either (a) touches exactly one stored
  * split — its new members ADOPT that split (rep = the minimum stored
  * rep among the touched, for a stable identity), (b) touches no
  * stored docs — a brand-new cluster, assigned by the rep's md5
  * bucket exactly as the batch operator would, or (c) touches stored
  * docs in TWO DIFFERENT splits — new evidence links clusters across
  * the boundary, which is leakage no assignment of the new docs can
  * repair: REFUSED LOUDLY by default (the fix is a full re-split of
  * the corpus version, a deliberate migration, not a silent flip).
  * `onConflict = "quarantine"` opts into the streaming-survivable
  * alternative (the [[graft.streaming.StreamOps.streamingContractGate]]
  * routing discipline): the conflicting components' NEW docs land in
  * `conflicts/` — never assigned, never dropped, readable via
  * [[readConflicts]] for the migration decision — and the rest of the
  * batch is admitted normally. A quarantined doc is NOT remembered as
  * seen: re-submitting it after the conflict is resolved (fresh store,
  * or the linking evidence gone) assigns it normally.
  *
  * Store discipline (the [[DedupStore]] one): `assign/` parquet +
  * `_split_meta.json` committed AFTER data through
  * [[StoreFiles.commit]]; `batchId` replay-skip; crash-retry idempotent because a
  * retry first drops already-assigned docs from the batch (the
  * re-derivation assigns nothing twice and appends nothing new).
  * [[compact]] folds the one-file-set-per-batch append history;
  * [[purge]] is the right-to-be-forgotten erasure verb.
  */
object SplitStore {

  private def base(spark: SparkSession, storeKey: String): String =
    s"${AnnIndex.annBase(spark)}/graft_splitstore_${IndexStore.pathTag(storeKey)}"

  private def metaFile(b: String) = Paths.get(b, "_split_meta.json")

  /** All committed assignments: (doc_id, rep_id, split). */
  def read(spark: SparkSession, storeKey: String): DataFrame = {
    val b = base(spark, storeKey)
    require(StoreFiles.readNums(metaFile(b)).contains("last_batch_id"),
      s"no persisted split store for '$storeKey' ($b) — assign a " +
        "first batch")
    // a crash between the append and the meta commit can leave one
    // batch's rows twice; content is deterministic, so doc_id dedup
    // restores exactly-once reads
    ParquetIO.read(spark, s"$b/assign")
      .dropDuplicates("doc_id")
  }

  /** Docs quarantined by conflict routing (`onConflict =
    * "quarantine"`): (doc_id, n_splits, batch_id) — empty frame when
    * none were.
    */
  def readConflicts(spark: SparkSession, storeKey: String): DataFrame = {
    val b = base(spark, storeKey)
    if (!Files.exists(Paths.get(s"$b/conflicts")))
      spark.emptyDataFrame.select(lit(0L).as("doc_id"),
        lit(0L).as("n_splits"), lit(0L).as("batch_id")).limit(0)
    else ParquetIO.read(spark, s"$b/conflicts").dropDuplicates("doc_id")
  }

  /** Assign splits to `newDocs(doc_id)` given match `pairs(doc_id_a,
    * doc_id_b)` over newDocs ∪ assigned docs (see object doc), and
    * commit them. Returns the post-batch assignment set. `onConflict`:
    * `"refuse"` (default — fail loudly on cross-split evidence) or
    * `"quarantine"` (route the conflicting components' new docs to
    * `conflicts/`, admit the rest).
    */
  def assign(
      spark: SparkSession,
      storeKey: String,
      newDocs: DataFrame,
      pairs: DataFrame,
      buckets: Int = 10,
      trainBuckets: Int = 8,
      valBuckets: Int = 1,
      seed: Long = 77L,
      batchId: Long = 0L,
      onConflict: String = "refuse"): DataFrame = {
    require(buckets >= 2 && trainBuckets >= 1 && valBuckets >= 0 &&
      trainBuckets + valBuckets < buckets,
      "assign: bucket spec must satisfy 0 < train, 0 <= val, " +
        "train + val < buckets")
    require(onConflict == "refuse" || onConflict == "quarantine",
      s"assign: onConflict must be 'refuse' or 'quarantine', got " +
        s"'$onConflict'")
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    if (meta.get("last_batch_id").exists(batchId <= _))
      return read(spark, storeKey)
    val hasStore = Files.exists(Paths.get(s"$b/assign"))
    val assigned =
      if (hasStore) ParquetIO.read(spark, s"$b/assign")
        .dropDuplicates("doc_id")
      else spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("rep_id"),
          lit("").as("split")).limit(0)
    // crash-retry idempotence: docs a crashed attempt already appended
    // are NOT new — the retry assigns only the remainder
    val fresh = newDocs.select(col("doc_id"))
      .dropDuplicates("doc_id")
      .join(assigned.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // ENFORCE the edge contract (endpoints ∈ newDocs ∪ assigned):
    // an edge to a doc that is neither is evidence about a document
    // not being assigned in this batch — deferred until it arrives,
    // never allowed to become a cluster label (an unassigned id
    // standing as a rep would collide with that doc's own later
    // arrival)
    val known = fresh.select("doc_id")
      .unionByName(assigned.select("doc_id"))
    val scoped = pairs.select(col("doc_id_a"), col("doc_id_b"))
      .join(known.select(col("doc_id").as("doc_id_a")), Seq("doc_id_a"),
        "left_semi")
      .join(known.select(col("doc_id").as("doc_id_b")), Seq("doc_id_b"),
        "left_semi")
    // collapse assigned endpoints to their STORED rep, so the closure
    // runs over (new ids ∪ stored cluster identities)
    val repOf = assigned.select(col("doc_id"), col("rep_id"))
    val edges = scoped
      .join(repOf.select(col("doc_id").as("doc_id_a"),
        col("rep_id").as("__rep_a")), Seq("doc_id_a"), "left")
      .join(repOf.select(col("doc_id").as("doc_id_b"),
        col("rep_id").as("__rep_b")), Seq("doc_id_b"), "left")
      .select(
        coalesce(col("__rep_a"), col("doc_id_a")).as("doc_id_a"),
        coalesce(col("__rep_b"), col("doc_id_b")).as("doc_id_b"))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
    val comp = Dedup.clustersAlternating(edges)
    // components' stored anchors: (component, min stored rep, splits)
    val anchors = comp
      .join(assigned.select(col("rep_id").as("doc_id"), col("split"))
        .dropDuplicates("doc_id"), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(min(col("doc_id")).as("__anchor_rep"),
        countDistinct(col("split")).as("__n_splits"),
        min(col("split")).as("__anchor_split"))
    if (onConflict == "refuse") {
      val conflicts = anchors.filter(col("__n_splits") > 1).limit(1)
        .collect()
      require(conflicts.isEmpty, {
        val r = conflicts.head
        s"SplitStore '$storeKey': new match evidence links stored " +
          s"clusters across the split boundary (component of rep " +
          s"${r.get(1)} touches ${r.get(2)} splits) — no assignment of " +
          "the new docs can repair that leakage; re-split the corpus " +
          "version deliberately (fresh store) instead of silently " +
          "flipping committed assignments (or opt into " +
          "onConflict = 'quarantine' to route the component aside)"
      })
    }
    val newComp = fresh
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("__comp"))
      .join(anchors.select(col("cluster_id").as("__comp"),
        col("__anchor_rep"), col("__anchor_split"), col("__n_splits")),
        Seq("__comp"), "left")
    // quarantine routing (opt-in): the conflicting components' new
    // docs are set aside — never assigned, never dropped — and the
    // rest of the batch is admitted; mirrors streamingContractGate
    val (admitted, conflicted) =
      (newComp.filter(coalesce(col("__n_splits"), lit(1L)) <= 1L),
        newComp.filter(coalesce(col("__n_splits"), lit(1L)) > 1L))
    if (onConflict == "quarantine") {
      val cDir = s"$b/conflicts"
      // retry exclusion (the DedupStore alreadyIn discipline): rows a
      // crashed attempt already recorded under this batch id append
      // nothing twice
      val already =
        if (!Files.exists(Paths.get(cDir))) None
        else Some(ParquetIO.read(spark, cDir)
          .filter(col("batch_id") === batchId).select("doc_id"))
      val toQuarantine = already match {
        case None => conflicted
        case Some(d) => conflicted.join(d, Seq("doc_id"), "left_anti")
      }
      if (!toQuarantine.isEmpty)
        toQuarantine
          .select(col("doc_id"), col("__n_splits").as("n_splits"),
            lit(batchId).as("batch_id"))
          .write.mode(SaveMode.Append).parquet(cDir)
    }
    val rows = admitted
      .select(col("doc_id"),
        coalesce(col("__anchor_rep"), col("__comp")).as("rep_id"),
        coalesce(col("__anchor_split"),
          CorpusOps.splitExpr(
            coalesce(col("__anchor_rep"), col("__comp")), seed,
            buckets, trainBuckets, valBuckets)).as("split"))
    if (!rows.isEmpty)
      rows.write.mode(SaveMode.Append).parquet(s"$b/assign")
    StoreFiles.commit(metaFile(b), "last_batch_id" -> batchId) // after data
    read(spark, storeKey)
  }

  /** Fold the one-file-set-per-batch append history of `assign/` into
    * few files with a [[StoreFiles.swap]] (the rename window is caught loudly by [[read]]'s
    * meta-then-missing-dir state, never read as an empty store).
    * Compaction rewrites FILES, never assignments: [[read]] is
    * byte-identical before and after (write-once contract intact),
    * and the meta (replay windows) is untouched. Not safe concurrent
    * with a writer.
    */
  def compact(spark: SparkSession, storeKey: String,
      numFiles: Int = 8): Unit = {
    val b = base(spark, storeKey)
    val aDir = s"$b/assign"
    if (!Files.exists(Paths.get(aDir))) return
    val side = s"$b/assign__compact"
    StoreFiles.rm(side)
    // dropDuplicates folds the one recoverable anomaly (a crash
    // between a batch's append and its meta commit duplicates that
    // batch's rows) — exactly what read() folds on every scan
    ParquetIO.read(spark, aDir).dropDuplicates("doc_id")
      .repartition(numFiles, col("rep_id"))
      .write.mode(SaveMode.Overwrite).parquet(side)
    StoreFiles.swap(aDir, side)
  }

  /** ERASE the given documents' assignment rows — the
    * right-to-be-forgotten verb
    * ([[graft.operators.Governance.purge]]'s split leg). Survivors'
    * rows are untouched (write-once intact — a purged doc that was a
    * cluster's rep leaves its id standing as the survivors' stable
    * cluster LABEL, an identifier the store already held for them,
    * not the purged doc's content). A [[StoreFiles.swap]] as in
    * [[compact]]; quarantined conflict rows for the purged ids are
    * erased too. Consequence, documented: re-submitting a purged doc
    * later re-assigns it fresh (the store has honestly forgotten it)
    * — if its cluster's evidence still exists it re-adopts the same
    * split; a genuinely orphaned re-add may land elsewhere, which is
    * the erasure semantics, not a flip of a retained assignment.
    * Returns the purged assignment-row count. Purging EVERY assigned
    * doc leaves an absent layout that [[read]] refuses loudly (the
    * gutted-vs-empty ambiguity has no meta witness here) — [[drop]]
    * the store instead when erasing it whole.
    */
  def purge(spark: SparkSession, storeKey: String,
      ids: DataFrame): Long = {
    val b = base(spark, storeKey)
    val aDir = s"$b/assign"
    if (!Files.exists(Paths.get(aDir))) return 0L
    val victims = ids.select(col(ids.columns.head).as("doc_id"))
      .distinct()
    // bounded no-op probe: already-purged ids skip the rewrite (the
    // crash-retry / replayed-trigger case)
    val cDirP = s"$b/conflicts"
    val present = (Seq(aDir) ++
        (if (Files.exists(Paths.get(cDirP))) Seq(cDirP) else Nil))
      .map(d => ParquetIO.read(spark, d).select("doc_id"))
      .reduce(_ unionByName _)
      .join(victims, Seq("doc_id"), "left_semi")
      .limit(1).collect().nonEmpty
    if (!present) return 0L
    val was = ParquetIO.read(spark, aDir).dropDuplicates("doc_id").count()
    val side = s"$b/assign__compact"
    StoreFiles.rm(side)
    val kept = ParquetIO.read(spark, aDir).dropDuplicates("doc_id")
      .join(victims, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    kept.write.mode(SaveMode.Overwrite).parquet(side)
    val nKept = kept.count()
    StoreFiles.swap(aDir, side, keep = nKept > 0)
    val cDir = s"$b/conflicts"
    if (Files.exists(Paths.get(cDir))) {
      val sideC = s"$b/conflicts__compact"
      StoreFiles.rm(sideC)
      val keptC = ParquetIO.read(spark, cDir)
        .join(victims, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      keptC.write.mode(SaveMode.Overwrite).parquet(sideC)
      StoreFiles.swap(cDir, sideC, keep = keptC.count() > 0)
    }
    was - nKept
  }

  /** Remove the persisted layout (test/ops hygiene). */
  def drop(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(base(spark, storeKey))
}
