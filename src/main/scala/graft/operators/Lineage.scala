package graft.operators

import graft.sources.StoreFiles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dataset MANIFESTS — the provenance/versioning record a 100 TB
  * pipeline stamps on every produced snapshot so downstream runs can
  * verify they trained on exactly the inputs they claim (public art:
  * DVC/LakeFS-style content addressing, Delta commit checksums). One
  * row per table: (table_name, n_rows, checksum), where the checksum
  * is the SUM of per-row md5-52bit content hashes over a caller-chosen
  * canonical row encoding — order-independent (any partitioning, any
  * merge order), engine-portable (the `conv(substr(md5…)))` uniform
  * every oracle already replays), and exact (the sum rides
  * DECIMAL(38,0): 52-bit terms overflow nothing below ~10²² rows).
  *
  * Scale shape: one map-side-combinable aggregate pass per table —
  * no sort, no collect, no cross-table shuffle.
  */
object Lineage {

  /** The md5-52bit content hash of one canonical row string —
    * identical in Spark and DuckDB (first 13 hex chars of md5, read
    * base 16).
    */
  def rowHash(canonical: Column): Column =
    conv(substring(md5(canonical), 1, 13), 16, 10)
      .cast(DecimalType(38, 0))

  /** One manifest row for `df` under the canonical encoding `canon`.
    * The checksum is rendered as TEXT: both engines print
    * DECIMAL(38,0) sums as plain digits, while a numeric column would
    * be at the mercy of each reader's integer width.
    */
  def tableManifest(tableName: String, df: DataFrame,
      canon: Column): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        sum(rowHash(canon)).as("cs"))
      .select(lit(tableName).as("table_name"),
        col("n_rows"),
        coalesce(col("cs"), lit(0).cast(DecimalType(38, 0)))
          .cast("string").as("checksum"))

  /** The full snapshot manifest: one row per (name, frame, canonical
    * encoding) entry, ordered by table name. Canonical encodings must
    * avoid raw floats/timestamps unless the caller pins a portable
    * rendering ([[Analyze.canon]] is the house encoder).
    */
  def manifest(entries: Seq[(String, DataFrame, Column)]): DataFrame = {
    require(entries.nonEmpty, "manifest: no tables")
    entries.map { case (n, df, c) => tableManifest(n, df, c) }
      .reduce(_.unionByName(_)).orderBy("table_name")
  }

  // -------------------------------------------------- incremental store

  private def metaPath(storeDir: String) =
    java.nio.file.Paths.get(storeDir, "_manifest.json")

  /** Read the incremental manifest at `storeDir`:
    * (n_rows, checksum, last_batch_id) — zeros/-1 when absent.
    */
  def readManifest(storeDir: String): (Long, BigInt, Long) = {
    val (n, cs, last, _, _) = readManifestFull(storeDir)
    (n, cs, last)
  }

  private def readManifestFull(storeDir: String)
      : (Long, BigInt, Long, Long, BigInt) = {
    val p = metaPath(storeDir)
    StoreFiles.read(p).fold((0L, BigInt(0), -1L, 0L, BigInt(0))) { s =>
      // a manifest documented as EXACT provenance must fail LOUDLY on
      // a missing/garbled field — defaulting to "0" would silently
      // re-fold earlier batches (last_batch_id=0) and corrupt the
      // running totals
      val (num, str) = (StoreFiles.nums(s), StoreFiles.strs(s))
      def n(k: String): Long = StoreFiles.required(num, k, "manifest", p)
      def cs(k: String): BigInt =
        BigInt(StoreFiles.required(str, k, "manifest", p))
      (n("n_rows"), cs("checksum"), n("last_batch_id"),
        n("last_batch_n"), cs("last_batch_cs"))
    }
  }

  /** Fold one batch into the incremental manifest — the streaming form
    * of [[tableManifest]], sound because the checksum is a SUM: any
    * batch split composes to the same total as one pass over the
    * union. Replay contract (the SketchStore discipline): a replayed
    * LAST batch id re-derives this batch's (n, sum) and VERIFIES it
    * against the committed values — a restarted batch counter serving
    * different content under a committed id fails loudly instead of
    * silently dropping its rows; earlier ids no-op unverified (their
    * per-batch terms are folded away). Returns the post-fold
    * (n_rows, checksum).
    */
  def manifestBatch(storeDir: String, batch: DataFrame, canon: Column,
      batchId: Long): (Long, BigInt) = {
    val (n0, cs0, last, lastN, lastCs) = readManifestFull(storeDir)
    if (batchId < last) return (n0, cs0)
    val agg = batch.agg(count(lit(1)).as("n"),
        sum(rowHash(canon)).cast("string").as("cs")).head
    val n = agg.getLong(0)
    val cs = Option(agg.getString(1)).map(BigInt(_)).getOrElse(BigInt(0))
    if (batchId == last) {
      require(n == lastN && cs == lastCs,
        s"manifest store '$storeDir': batchId $batchId is committed but " +
          "this batch's (count, checksum) differs from the committed " +
          "values — NOT a replay (restarted batch counter?); use a " +
          "fresh batchId or a fresh store")
      return (n0, cs0)
    }
    val out = (n0 + n, cs0 + cs)
    // a StoreFiles commit: a crash mid-write leaves the old complete
    // manifest, never a truncated file that would parse as zeros
    StoreFiles.commit(metaPath(storeDir), "n_rows" -> out._1,
      "checksum" -> out._2.toString, "last_batch_id" -> batchId,
      "last_batch_n" -> n, "last_batch_cs" -> cs.toString)
    out
  }
}
