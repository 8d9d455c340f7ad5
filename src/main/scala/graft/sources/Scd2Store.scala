package graft.sources

import graft.operators.Scd2
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** PERSISTED SCD2 dimension store — the on-disk layout a warehouse
  * actually MERGEs CDC batches into (public art: Kimball SCD2 loads,
  * Delta/Iceberg MERGE INTO patterns). [[graft.operators.Scd2]]
  * rebuilds intervals from a complete feed; this applies change
  * BATCHES incrementally: close the affected keys' open intervals,
  * insert the new ones, leave every untouched key's rows on disk
  * unread.
  *
  * Layout: `dim/` parquet partitioned by `kb` (key hash bucket,
  * `pmod(xxhash64(key), KeyDirs)`) holding
  * (key, attrs..., valid_from, valid_to); `_scd2_meta.json` committed
  * AFTER data through [[StoreFiles.commit]]. A merge rewrites ONLY the batch's touched buckets, so
  * the cost is O(touched buckets), not O(dimension): the 100 TB shape.
  *
  * Merge derivation: each stored interval's (valid_from, attrs) IS its
  * opening change, so the touched buckets' post-merge state is
  * `Scd2.fromChanges(stored openings ∪ batch)` — recomputed from
  * first principles per touched key. That makes the merge IDEMPOTENT
  * under replayed content by construction (a re-delivered change is an
  * exact duplicate of an opening, or folds as a no-op).
  *
  * Commit protocol (JOURNALED stage-then-swap — no mid-commit loss
  * window): the merged touched buckets land in a SIDE directory first
  * (the live buckets are never a write target), then a journal naming
  * the side dir and every touched bucket commits atomically, then each
  * bucket swaps in by atomic dir rename, then the journal is removed
  * and the meta commits. Every crash point recovers: before the
  * journal, the side dir is an unreferenced orphan (swept by the next
  * writer); after the journal, [[recover]] rolls the swap FORWARD
  * (side bucket present → finish its rename; absent → that bucket
  * already swapped), after which a merge retry re-derives
  * byte-identical content from the now-post-merge openings (a batch
  * change is an exact duplicate of an opening it created, or folds as
  * a no-op — the same idempotence argument as redelivery) and commits
  * the meta. A crash between swap completion and the meta commit thus
  * serves the batch's content slightly EARLY (read-uncommitted until
  * the retry commits) — never a gutted bucket, never silently dropped
  * closed intervals. Single-writer discipline: merges/purges of one
  * store must not run concurrently (no lock on a parquet layout).
  *
  * Feed contract (the [[graft.streaming.StreamOps.streamingScd2]]
  * rule, store-checked): a change at-or-before a key's latest opening
  * must MATCH recorded history (same attrs as the interval covering
  * its ts — an at-least-once redelivery) — anything else is a history
  * rewrite and is refused LOUDLY before anything lands, because closed
  * intervals downstream consumers already read must never change.
  * The guard costs exactly ONE job per merge; feeds that are trusted
  * (or audited upstream) can set `checkHistory = false` and skip it
  * (the [[graft.operators.DataContract]] lazy discipline).
  * `batchId` replay-skip: a batch id ≤ the committed `last_batch_id`
  * no-ops (the idempotent-foreachBatch contract).
  *
  * [[purgeKeys]] is the ONE deliberate exception to the never-rewrite
  * rule: right-to-be-forgotten erasure of a key's ENTIRE history
  * (every interval, open and closed), audited via its own replay
  * counter — see [[graft.operators.Governance.purge]].
  */
object Scd2Store {

  /** Key-bucket partition count. 64 keeps fixture layouts small; a
    * 100 TB dimension raises it (e.g. 4096) so merges prune harder.
    */
  val KeyDirs = 64

  private def base(spark: SparkSession, storeKey: String): String =
    s"${AnnIndex.annBase(spark)}/graft_scd2store_${IndexStore.pathTag(storeKey)}"

  private def metaFile(b: String) = Paths.get(b, "_scd2_meta.json")

  private def kbCol(keyCol: String) =
    pmod(xxhash64(col(keyCol)), lit(KeyDirs.toLong)).cast("int").as("kb")

  /** `kb` of a PROBE frame's key column, hashed at the STORED
    * dimension's key type: xxhash64 is type-sensitive (an int probe
    * against a long dimension hashes differently), so an uncast probe
    * would prune the correct bucket away and silently read nulls where
    * [[lookup]] matches via join coercion. Casting to the stored type
    * restores the documented output-identity.
    */
  private def probeKb(spark: SparkSession, dimDir: String,
      probes: DataFrame, keyCol: String) = {
    val storedType = ParquetIO.footerSchema(spark, dimDir)
      .getOrElse(spark.read.parquet(dimDir).schema)
      .find(_.name == keyCol)
      .getOrElse(throw new IllegalArgumentException(
        s"lookupPruned: stored dimension has no column '$keyCol'"))
      .dataType
    pmod(xxhash64(probes(keyCol).cast(storedType)), lit(KeyDirs.toLong))
      .cast("int").as("kb")
  }

  /** Dim-dir read without the per-call schema-inference job
    * ([[ParquetIO.read]]): the footer carries the caller-shaped data
    * columns, `kb` is the one partition column the write path drops.
    */
  private def readDimDir(spark: SparkSession, dimDir: String) =
    ParquetIO.read(spark, dimDir, Seq(org.apache.spark.sql.types
      .StructField("kb", org.apache.spark.sql.types.IntegerType)))

  /** Roll an interrupted journaled swap forward ([[BucketSwap]]) —
    * called by every reader and writer entry point.
    */
  private def recover(b: String): Unit = BucketSwap.recover(b, "dim")

  private def stageAndSwap(spark: SparkSession, b: String,
      staged: DataFrame, touched: Seq[Int]): Unit =
    BucketSwap.stageAndSwap(spark, b, "dim", "kb", staged, touched)

  /** The stored dimension: (key, attrs..., valid_from, valid_to,
    * is_current) — [[graft.operators.Scd2.fromChanges]]'s exact output
    * shape, readable for joins/[[lookup]] without any merge machinery.
    * Empty-store reads fail loudly (no meta = never merged).
    */
  def readDim(spark: SparkSession, storeKey: String): DataFrame = {
    val b = base(spark, storeKey)
    require(StoreFiles.readNums(metaFile(b)).contains("last_batch_id"),
      s"no persisted SCD2 dimension for '$storeKey' ($b) — merge a " +
        "first change batch")
    recover(b)
    readDimDir(spark, s"$b/dim").drop("kb")
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time lookup against the STORE —
    * [[graft.operators.Scd2.asOfLookup]] over [[readDim]].
    */
  def lookup(spark: SparkSession, storeKey: String, probes: DataFrame,
      keyCol: String, tsCol: String): DataFrame =
    Scd2.asOfLookup(probes, readDim(spark, storeKey), keyCol, tsCol)

  /** [[lookup]] for a BOUNDED probe set, reading ONLY the probes'
    * key-buckets: the probe keys' `kb` set (≤ [[KeyDirs]], collected
    * bounded) becomes a partition filter on the dimension scan, so a
    * point lookup prices at O(touched buckets) instead of O(dimension)
    * — at a 100 TB dimension that is the difference between a seek and
    * a table scan. Probe keys hash at the STORED key type (see
    * [[probeKb]]) so a type-coerced probe prunes the same bucket the
    * join matches in. Output-identical to [[lookup]] by construction;
    * Scd2StoreSpec pins both the parity and the pruned scan shape.
    */
  def lookupPruned(spark: SparkSession, storeKey: String,
      probes: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val b = base(spark, storeKey)
    require(StoreFiles.readNums(metaFile(b)).contains("last_batch_id"),
      s"no persisted SCD2 dimension for '$storeKey' ($b) — merge a " +
        "first change batch")
    recover(b)
    val kbs = probes.select(probeKb(spark, s"$b/dim", probes, keyCol))
      .distinct().collect().map(_.getInt(0)).sorted
    val dim = readDimDir(spark, s"$b/dim")
      .filter(col("kb").isin(kbs.map(Int.box): _*))
      .drop("kb")
      .withColumn("is_current", col("valid_to").isNull)
    Scd2.asOfLookup(probes, dim, keyCol, tsCol)
  }

  /** MERGE one CDC change batch `changes(keyCol, tsCol, attrCols...)`
    * into the persisted dimension (see object doc for semantics and
    * the journaled commit protocol). Returns the post-merge dimension
    * view. A replayed `batchId` (≤ committed `last_batch_id`) skips —
    * the store already holds this batch's effect. `checkHistory =
    * false` skips the one-job history-rewrite guard for trusted feeds.
    */
  def merge(
      spark: SparkSession,
      storeKey: String,
      changes: DataFrame,
      keyCol: String,
      tsCol: String,
      attrCols: Seq[String],
      batchId: Long,
      checkHistory: Boolean = true): DataFrame = {
    require(attrCols.nonEmpty, "merge: no attribute columns")
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    val dimDir = s"$b/dim"
    if (meta.get("last_batch_id").exists(batchId <= _))
      return readDim(spark, storeKey)
    recover(b)
    require(meta.isEmpty || Files.exists(Paths.get(dimDir)),
      s"SCD2 store '$storeKey' meta exists but the dim dir is missing " +
        "— corrupt layout; drop() and re-merge from the full feed")
    val batch = changes.select(
      (Seq(col(keyCol), col(tsCol)) ++ attrCols.map(col)): _*)
    val hasStore = Files.exists(Paths.get(dimDir))
    // touched buckets: bounded by KeyDirs, collected bounded
    val touched = batch.select(kbCol(keyCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { // empty batch still commits its id
      require(hasStore,
        s"Scd2Store '$storeKey': first merge batch is empty — nothing " +
          "to build a dimension from")
      StoreFiles.commit(metaFile(b), ("last_batch_id" -> batchId) +:
        meta.filterNot(_._1 == "last_batch_id").toSeq: _*)
      return readDim(spark, storeKey)
    }
    val stored =
      if (hasStore)
        readDimDir(spark, dimDir)
          .filter(col("kb").isin(touched.map(Int.box): _*))
      else null
    if (hasStore && checkHistory) {
      // history-rewrite guard (loud, before anything lands, ONE job):
      // a change at-or-before its key's latest opening must fold
      // against recorded history — the interval covering its ts must
      // carry the SAME attrs (an at-least-once redelivery); a
      // differing-attrs or before-first-interval change would rewrite
      // closed intervals
      val latest = stored.groupBy(col(keyCol))
        .agg(max(col("valid_from")).as("__mf"))
      val rewrites = batch
        .join(latest, Seq(keyCol), "inner")
        .filter(col(tsCol) <= col("__mf"))
        .alias("c").join(stored.alias("s"),
          col(s"c.$keyCol") === col(s"s.$keyCol") &&
            col(s"c.$tsCol") >= col("s.valid_from") &&
            (col("s.valid_to").isNull ||
              col(s"c.$tsCol") < col("s.valid_to")),
          "left")
        .filter(col("s.valid_from").isNull || // before first interval
          !(struct(attrCols.map(a => col(s"c.$a")): _*) <=>
            struct(attrCols.map(a => col(s"s.$a")): _*)))
        .count()
      require(rewrites == 0L,
        s"Scd2Store '$storeKey': $rewrites change(s) at-or-before their " +
          "key's latest opening do not match recorded history — a " +
          "history REWRITE, refused (closed intervals are already " +
          "consumed downstream); fix the feed or rebuild a fresh store " +
          "from the corrected full feed")
    }
    // each stored interval's (valid_from, attrs) IS its opening change:
    // re-derive the touched keys' full interval sets from openings ∪
    // batch — idempotent under any replayed/overlapping delivery
    val openings =
      if (hasStore)
        stored.select(
          (Seq(col(keyCol), col("valid_from").as(tsCol)) ++
            attrCols.map(col)): _*)
      else batch.limit(0)
    val merged = Scd2.fromChanges(
        openings.unionByName(batch).dropDuplicates(
          Seq(keyCol, tsCol) ++ attrCols),
        keyCol, tsCol, attrCols)
      .drop("is_current")
      .withColumn("kb", kbCol(keyCol))
    if (hasStore)
      stageAndSwap(spark, b, merged, touched.toSeq)
    else
      merged.write.mode(SaveMode.Overwrite).partitionBy("kb")
        .parquet(dimDir)
    StoreFiles.commit(metaFile(b), ("last_batch_id" -> batchId) +:
      meta.filterNot(_._1 == "last_batch_id").toSeq: _*)
    readDim(spark, storeKey)
  }

  /** ERASE the given keys' ENTIRE history — every interval, open and
    * closed — from the persisted dimension: the right-to-be-forgotten
    * verb ([[graft.operators.Governance.purge]]'s SCD2 leg), and the
    * ONE deliberate exception to the history-rewrite refusal (this is
    * an audited erasure, not a feed accident). Rewrites only the
    * purged keys' buckets via the journaled swap (a purge can empty a
    * bucket; the swap deletes it). Replay-safe via its own counter
    * (`last_purge_batch_id`); idempotent anyway (erasing erased keys
    * is a no-op). A later merge may re-introduce a purged key — the
    * caller's admission control, as with the ANN re-add contract.
    */
  def purgeKeys(
      spark: SparkSession,
      storeKey: String,
      keys: DataFrame,
      keyCol: String,
      batchId: Option[Long] = None): DataFrame = {
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    require(meta.contains("last_batch_id"),
      s"no persisted SCD2 dimension for '$storeKey' ($b) — nothing to " +
        "purge")
    if (batchId.exists(id =>
        meta.get("last_purge_batch_id").exists(id <= _)))
      return readDim(spark, storeKey)
    recover(b)
    val dimDir = s"$b/dim"
    val probe = keys.select(col(keyCol)).distinct()
    val touched = probe
      .select(probeKb(spark, dimDir, probe, keyCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val survivors = readDimDir(spark, dimDir)
        .filter(col("kb").isin(touched.map(Int.box): _*))
        .join(probe, Seq(keyCol), "left_anti")
      stageAndSwap(spark, b, survivors, touched.toSeq)
    }
    StoreFiles.commit(metaFile(b),
      (meta - "last_purge_batch_id").toSeq ++
        batchId.orElse(meta.get("last_purge_batch_id"))
          .map("last_purge_batch_id" -> _).toSeq: _*)
    readDim(spark, storeKey)
  }

  /** Remove the persisted layout (test/ops hygiene). */
  def drop(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(base(spark, storeKey))
}
