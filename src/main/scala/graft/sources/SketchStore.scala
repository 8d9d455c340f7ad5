package graft.sources

import graft.operators.Sketches
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Persisted INCREMENTAL KMV sketch store — distinct-cardinality
  * tracking for a growing corpus ("how many distinct n-grams has each
  * source contributed, ever?") priced per increment at O(|batch|),
  * with the historical corpus never re-read.
  *
  * Layout: `panes/batch_id=N/` parquet (grp, kmv) — one bounded pane
  * per ingested batch — plus `_sketch_meta.json` (last_batch_id, k,
  * seed) committed AFTER data through [[StoreFiles.commit]].
  *
  * Exactly-once is STRUCTURAL here, not protocol-deep: a KMV pane is a
  * pure function of the batch's item SET, and reading merges panes
  * under set union (idempotent, commutative, associative — see
  * [[graft.operators.Sketches.kmvMergeAgg]]). So a crash-retry simply
  * rewrites the same partition with byte-identical content, a replayed
  * batch id is detected via meta and re-served from its pane (after
  * verifying the pane content re-derives — a restarted batch counter
  * must fail loudly, the DedupStore lesson), and no probe-ordering
  * window exists at all — the contrast with DedupStore's careful
  * batch_id < batchId probe filtering is the point: choose
  * merge-idempotent state when the semantics allow it.
  *
  * The incremental read is certified by the oracle the hard way:
  * q180's DuckDB replay computes each sketch DIRECTLY from the full
  * corpus — batched ingest must be invisible digit for digit.
  */
object SketchStore {

  private def base(spark: SparkSession, storeKey: String): String =
    s"${AnnIndex.annBase(spark)}/graft_sketchstore_${IndexStore.pathTag(storeKey)}"

  /** Panes-dir read without the per-call schema-inference job
    * ([[ParquetIO.read]]); `batch_id` is the partition column the
    * write path drops from the data files (long: the batch counter's
    * own type, so a long-running store never overflows the declared
    * partition type).
    */
  private def readPanesDir(spark: SparkSession, dir: String) =
    ParquetIO.read(spark, dir, Seq(org.apache.spark.sql.types
      .StructField("batch_id", org.apache.spark.sql.types.LongType)))

  private def metaFile(b: String) = Paths.get(b, "_sketch_meta.json")

  def drop(spark: SparkSession, storeKey: String): Unit =
    StoreFiles.rm(base(spark, storeKey))

  /** Ingest one batch: sketch its (group, item) rows and commit the
    * pane. Idempotent under crash-retry AND under batch replay
    * (batchId ≤ committed → verify + no-op). (k, seed) are pinned by
    * the first update; a mismatch fails loudly.
    */
  def update(spark: SparkSession, storeKey: String, items: DataFrame,
      groupCol: String, item: Column, batchId: Long, k: Int,
      seed: Long): Unit = {
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    meta.get("k").foreach(k0 => require(k0 == k && meta("seed") == seed,
      s"sketch store '$storeKey' was built with (k=$k0, seed=" +
        s"${meta("seed")}), got (k=$k, seed=$seed) — sketches under " +
        "different parameters do not merge; drop() to rebuild"))
    val pane = Sketches.kmvSketch(items, groupCol, item, k, seed)
      .withColumnRenamed(groupCol, "grp")
      .withColumn("batch_id", lit(batchId))
    if (meta.get("last_batch_id").exists(batchId <= _)) {
      // below the verify floor (compacted/expired panes are gone) a
      // replay no-ops UNVERIFIED — the imposter-counter protection
      // ends at the horizon, reachable only by rolling a checkpoint
      // back past compaction/retention (the DedupStore expireSeen
      // boundary; operational error, documented not hidden)
      if (meta.get("verify_floor").exists(batchId <= _)) return
      // replay: the pane must re-derive from this batch's content —
      // a restarted batch counter serving an unrelated batch under a
      // committed id must fail loudly, not silently drop its data
      val stored = readPanesDir(spark, s"$b/panes")
        .filter(col("batch_id") === batchId)
        .select(col("grp"), explode(col("kmv")).as("h"))
      val fresh = pane.select(col("grp"), explode(col("kmv")).as("h"))
      val diverged = stored.unionByName(fresh)
        .groupBy("grp", "h").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2).limit(1).count()
      require(diverged == 0L,
        s"sketch store '$storeKey': batchId $batchId is committed but " +
          "this batch's sketch differs from the stored pane — NOT a " +
          "replay (restarted batch counter?); use a fresh batchId or " +
          "a fresh store")
      return
    }
    // dynamic overwrite scoped to THIS write (the StreamOps pane
    // pattern): a session-global conf flip would silently switch every
    // later Overwrite+partitionBy in the session (e.g. AnnIndex ensure*
    // rebuilds) from truncate-directory to dynamic semantics, letting a
    // rebuild keep stale partitions its new assignment left empty
    pane.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$b/panes")
    // verify_floor rides through (compactPanes/expirePanes set it):
    // dropping it here would re-open content verification for folded
    // batch ids whose original panes no longer exist — the first
    // ingest after a compaction would make a later TRUE replay of a
    // folded id fail loudly instead of no-opping
    StoreFiles.commit(metaFile(b), Seq("last_batch_id" -> batchId,
      "k" -> k.toLong, "seed" -> seed) ++
      meta.get("verify_floor").map("verify_floor" -> _): _*)
  }

  /** True iff the store has a committed batch (the maintenance
    * driver's existence probe — a scoped-but-empty store is skipped,
    * a scoped-but-MISSING one fails loudly in [[read]]).
    */
  def exists(spark: SparkSession, storeKey: String): Boolean =
    StoreFiles.readNums(metaFile(base(spark, storeKey)))
      .contains("last_batch_id")

  /** Fold every committed pane into ONE pane carrying batch_id =
    * last_batch_id — the pane COUNT is the only thing that grows in
    * this store (each pane is already ≤ G·k longs), and reads are
    * unchanged by mergeability. A [[StoreFiles.swap]]; meta's
    * verify_floor rises to
    * last_batch_id — EVERY committed batch's original pane is gone
    * after the fold, including the last one's (the surviving
    * batch_id=last pane holds the MERGED sketch, not that batch's own;
    * a floor of last−1 made a true replay of the last batch fail its
    * content verification against the fold — caught by q251's replay
    * run), so replays of any folded id no-op unverified. The rewrite
    * coalesces to `numFiles` (default 1 — panes are bounded, and one
    * file IS the floor [[graft.operators.Governance.maintain]]'s
    * path-derived estimate computes for the single surviving
    * partition dir, so the folded store sits exactly at it).
    */
  def compactPanes(spark: SparkSession, storeKey: String,
      numFiles: Int = 1): Unit = {
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    if (!meta.contains("last_batch_id")) return
    val last = meta("last_batch_id")
    val side = s"$b/panes__compact"
    StoreFiles.rm(side)
    read(spark, storeKey).withColumn("batch_id", lit(last))
      .coalesce(numFiles)
      .write.mode(SaveMode.Overwrite).partitionBy("batch_id")
      .parquet(side)
    StoreFiles.swap(s"$b/panes", side)
    StoreFiles.commit(metaFile(b), "last_batch_id" -> last,
      "k" -> meta("k"), "seed" -> meta("seed"), "verify_floor" -> last)
  }

  /** Retention: drop panes with batch_id < `keepFromBatchId` — the
    * read then answers "distinct items over the RETAINED batches": the
    * trailing-window semantics fall out of pane immutability (a KMV
    * cannot subtract, but a window of panes never needs to). Expired
    * batch ids join the unverified-replay horizon.
    */
  def expirePanes(spark: SparkSession, storeKey: String,
      keepFromBatchId: Long): Unit = {
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    if (!meta.contains("last_batch_id")) return
    require(keepFromBatchId <= meta("last_batch_id"),
      s"expirePanes: keepFrom $keepFromBatchId would drop every pane " +
        s"(last committed is ${meta("last_batch_id")})")
    import scala.jdk.CollectionConverters._
    val panes = Paths.get(s"$b/panes")
    if (Files.exists(panes)) {
      Files.list(panes).iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("batch_id=") &&
            n.stripPrefix("batch_id=").toLong < keepFromBatchId
        }
        .foreach(p => StoreFiles.rm(p))
    }
    StoreFiles.commit(metaFile(b),
      "last_batch_id" -> meta("last_batch_id"),
      "k" -> meta("k"), "seed" -> meta("seed"),
      "verify_floor" -> math.max(meta.getOrElse("verify_floor", -1L),
        keepFromBatchId - 1))
  }

  /** The merged per-group sketch over every COMMITTED pane (panes past
    * the meta's last_batch_id — a crashed half-written future batch —
    * are excluded): (grp, kmv). Identical, by mergeability, to the
    * sketch of everything ever ingested.
    */
  def read(spark: SparkSession, storeKey: String): DataFrame = {
    // panesDf carries the loud missing-store require — it must fire
    // before the k lookup, or an absent store reads as a bare
    // key-not-found instead of the documented message
    val panes = panesDf(spark, storeKey)
    val k =
      StoreFiles.readNums(metaFile(base(spark, storeKey)))("k").toInt
    panes.groupBy("grp")
      .agg(Sketches.kmvMergeAgg(col("kmv"), k).as("kmv"))
  }

  /** The committed panes frame raw (pre-merge) — the physical file
    * surface [[graft.operators.Governance.maintain]] measures: the
    * merged [[read]] answers from exactly these files, one pane
    * file-set per ingested batch until [[compactPanes]] folds them.
    */
  private[graft] def panesDf(spark: SparkSession,
      storeKey: String): DataFrame = {
    val b = base(spark, storeKey)
    val meta = StoreFiles.readNums(metaFile(b))
    require(meta.contains("last_batch_id"),
      s"sketch store '$storeKey' has no committed batches")
    readPanesDir(spark, s"$b/panes")
      .filter(col("batch_id") <= meta("last_batch_id"))
  }
}
