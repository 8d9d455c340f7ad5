package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths}

/** JOURNALED per-bucket stage-then-swap for hash-partitioned parquet
  * layouts (`<live>/<part>=N/...`) — the commit primitive behind
  * [[Scd2Store.merge]]/[[Scd2Store.purgeKeys]] and the purge verbs of
  * [[DedupStore]]/[[SplitStore]]. A bare dynamic-partition-overwrite
  * commits bucket-by-bucket via delete+rename with no recovery record:
  * a crash mid-commit loses a bucket's prior committed rows entirely,
  * and a retry that re-derives from the surviving rows cannot get them
  * back. This closes that window:
  *
  *  1. staged rows land in a SIDE directory (`<live>__side_<pid>`) —
  *     the live buckets are never a write target;
  *  2. a journal naming the side dir, every touched bucket, and the
  *     buckets the stage EMPTIED commits atomically (temp + rename);
  *  3. each touched bucket swaps in: delete live dir, atomic-rename
  *     side dir in (or, for an emptied bucket, delete live);
  *  4. the journal is removed, then the caller commits its meta.
  *
  * Crash anywhere: before the journal, the side dir is unreferenced
  * garbage ([[sweepOrphans]]); after it, [[recover]] ROLLS FORWARD —
  * side bucket present → finish its swap; absent and journaled emptied
  * → delete live (idempotent); absent otherwise → that bucket's swap
  * already completed. The emptied list is what makes the roll-forward
  * decidable: without it, "side absent" cannot distinguish a completed
  * swap from a staged-empty bucket, and guessing deletes live data.
  *
  * Single-writer discipline per layout (no lock on a parquet layout);
  * readers call [[recover]] first so a mid-swap crash never serves a
  * half-gutted view.
  */
private[sources] object BucketSwap {

  private def journalPath(b: String, liveName: String) =
    Paths.get(b, s"_swap_journal_$liveName.json")

  /** Stage `staged` (the touched buckets' FULL new content, partition
    * column included) and swap it into `<b>/<liveName>`. `touched`
    * must cover every `partCol` value present in `staged`; a touched
    * bucket with no staged rows is deleted from live.
    */
  def stageAndSwap(spark: SparkSession, b: String, liveName: String,
      partCol: String, staged: DataFrame, touched: Seq[Int]): Unit = {
    sweepOrphans(b, liveName)
    val sideName = s"${liveName}__side_${ProcessHandle.current.pid}"
    val sideDir = s"$b/$sideName"
    staged.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(sideDir)
    val emptied = touched.filterNot(v =>
      Files.exists(Paths.get(sideDir, s"$partCol=$v")))
    StoreFiles.commit(journalPath(b, liveName), "side" -> sideName,
      "part_col" -> partCol, "buckets" -> touched, "emptied" -> emptied)
    swapBuckets(b, liveName, sideName, partCol, touched.map(_.toLong),
      emptied.map(_.toLong).toSet)
  }

  private def swapBuckets(b: String, liveName: String, sideName: String,
      partCol: String, touched: Seq[Long], emptied: Set[Long]): Unit = {
    val liveDir = Paths.get(b, liveName)
    Files.createDirectories(liveDir)
    touched.foreach { v =>
      val side = Paths.get(b, sideName, s"$partCol=$v")
      val live = liveDir.resolve(s"$partCol=$v")
      if (Files.exists(side)) StoreFiles.replace(live, side)
      else if (emptied.contains(v)) StoreFiles.rm(live)
    }
    Files.deleteIfExists(journalPath(b, liveName))
    StoreFiles.rm(Paths.get(b, sideName))
  }

  /** Roll an interrupted swap forward and sweep orphan side dirs.
    * Called by every reader and writer entry point; no-op on a clean
    * layout.
    */
  def recover(b: String, liveName: String): Unit = {
    val jp = journalPath(b, liveName)
    StoreFiles.read(jp).foreach { txt =>
      val (str, ints) = (StoreFiles.strs(txt), StoreFiles.lists(txt))
      def field(f: String): String =
        StoreFiles.required(str, f, "swap journal", jp)
      swapBuckets(b, liveName, field("side"), field("part_col"),
        ints.getOrElse("buckets", Nil),
        ints.getOrElse("emptied", Nil).toSet)
    }
    sweepOrphans(b, liveName)
  }

  private def sweepOrphans(b: String, liveName: String): Unit =
    if (!Files.exists(journalPath(b, liveName)))
      StoreFiles.rmPrefixed(Paths.get(b), s"${liveName}__side_")
}
