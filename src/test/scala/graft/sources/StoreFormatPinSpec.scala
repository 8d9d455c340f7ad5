package graft.sources

import graft.TestSpark
import graft.operators.{Governance, Lineage}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** Byte-format pins: every meta, manifest and journal kind a store
  * commits, read back after a fixed verb sequence, must equal these
  * bytes exactly — stores written by earlier builds are read by later
  * ones, so a change to the commit path may not move a byte. Journals
  * live only inside a verb; their rows stop the verb right after the
  * journal commits (an entry of the wrong kind where the verb writes
  * next) and read what it left.
  */
class StoreFormatPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pid = ProcessHandle.current.pid
  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  private def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")
  private val batch1 = docs(1L -> "alpha beta gamma delta",
    2L -> "alpha beta gamma delta", 3L -> "BOILER\nepsilon zeta eta")
  private val batch2 = docs(4L -> "theta iota kappa lambda",
    5L -> "BOILER\nmu nu xi omicron", 6L -> "alpha beta gamma delta")
  private def ids(xs: Long*): DataFrame = xs.toDF("doc_id")

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"pin-$name-$runTag").toString
  private def under(kind: String, key: String, file: String): Path =
    Paths.get(s"${AnnIndex.annBase(spark)}/graft_${kind}_" +
      IndexStore.pathTag(key), file)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** (kind, verbs that leave the file, its expected bytes). */
  private val pins: Seq[(String, () => Path, String)] = Seq(
    ("_ann_meta.json (keyword postings delete)", () => {
      val src = tmpDir("kw")
      KeywordIndex.ensurePostings(spark, src, batch1.union(batch2),
        snapshotId = Some("snap-7"))
      KeywordIndex.deletePostings(spark, src, ids(4L), batchId = Some(3L))
      under("kw", src, "_ann_meta.json")
    }, """{"n_docs": 6, "checksum": 5963326047862442814, """ +
      """"tomb_rows": 1, "sum_dl": 21, "n_docs_stat": 5, """ +
      """"stats_tomb_rows": 1, "last_del_batch_id": 3}"""),
    ("_ann_meta.json (bpe merges, snapshot)", () => {
      val src = tmpDir("bpe")
      TokenizerStore.ensureBpeMerges(spark, src, batch1.union(batch2),
        numMerges = 4, snapshotId = Some("snap-7"))
      under("tok_bpe", src, "_ann_meta.json")
    }, """{"n_merges": 4, "n_rows": 6, "checksum": -3779281289277064215, """ +
      """"snapshot_id": "snap-7"}"""),
    ("_dedup_meta.json (exact)", () => {
      val key = s"pin-dedup-$runTag"
      DedupStore.dedupBatch(spark, key, batch1, batchId = 1L)
      DedupStore.dedupBatch(spark, key, batch2, batchId = 2L)
      DedupStore.purgeDocs(spark, key, ids(4L))
      under("dedupstore", key, "_dedup_meta.json")
    }, """{"n_rows": 3, "last_batch_id": 2}"""),
    ("_dedup_meta.json (lines)", () => {
      val key = s"pin-lines-$runTag"
      DedupStore.lineDedupBatch(spark, key, batch1, 1L, maxDf = 4)
      DedupStore.lineDedupBatch(spark, key, batch2, 2L, maxDf = 4)
      DedupStore.purgeLineContributions(spark, key, docs(3L ->
        "BOILER\nepsilon zeta eta"), purgeBatchId = 1L)
      Paths.get(under("dedupstore", key, "").toString + "_lines",
        "_dedup_meta.json")
    }, """{"n_rows": 5, "last_purge_batch_id": 1, """ +
      """"last_batch_id": 2}"""),
    ("_purge_journal.json", () => {
      val key = s"pin-journal-$runTag"
      DedupStore.lineDedupBatch(spark, key, batch1, 1L, maxDf = 4)
      val b = Paths.get(under("dedupstore", key, "").toString + "_lines")
      // the meta commit after the journaled swap cannot write its temp
      // file, so the verb stops with the journal on disk
      Files.createDirectories(b.resolve(s"_dedup_meta.json.tmp$pid/x"))
      intercept[java.io.IOException](DedupStore.purgeLineContributions(
        spark, key, docs(3L -> "BOILER\nepsilon zeta eta"),
        purgeBatchId = 1L))
      b.resolve("_purge_journal.json")
    }, """{"side": "linedf__purge_<pid>", "purge_batch_id": 1, """ +
      """"n_kept": 1}"""),
    ("_split_meta.json", () => {
      val key = s"pin-split-$runTag"
      SplitStore.assign(spark, key, ids(2L, 4L), Seq((2L, 4L))
        .toDF("doc_id_a", "doc_id_b"), batchId = 1L)
      SplitStore.assign(spark, key, ids(1L), Seq((1L, 2L))
        .toDF("doc_id_a", "doc_id_b"), batchId = 2L)
      under("splitstore", key, "_split_meta.json")
    }, """{"last_batch_id": 2}"""),
    ("_scd2_meta.json", () => {
      val key = s"pin-scd2-$runTag"
      val feed = Seq((1L, ts("2024-01-01 00:00:00"), "bronze"),
        (2L, ts("2024-01-02 00:00:00"), "gold"))
        .toDF("user_id", "ts", "tier")
      Scd2Store.merge(spark, key, feed, "user_id", "ts", Seq("tier"),
        batchId = 1L)
      Scd2Store.purgeKeys(spark, key, Seq(2L).toDF("user_id"), "user_id",
        batchId = Some(5L))
      under("scd2store", key, "_scd2_meta.json")
    }, """{"last_batch_id": 1, "last_purge_batch_id": 5}"""),
    ("_swap_journal_dim.json", () => {
      val b = tmpDir("bswap")
      // a regular file where the swap creates the live dir: the verb
      // stops right after its journal commit
      Files.writeString(Paths.get(b, "dim"), "")
      intercept[java.nio.file.FileAlreadyExistsException](
        BucketSwap.stageAndSwap(spark, b, "dim", "kb",
          Seq((10L, 0)).toDF("v", "kb"), Seq(0, 1)))
      Paths.get(b, "_swap_journal_dim.json")
    }, """{"side": "dim__side_<pid>", "part_col": "kb", """ +
      """"buckets": [0, 1], "emptied": [1]}"""),
    ("_sketch_meta.json", () => {
      val key = s"pin-sketch-$runTag"
      Seq(1L, 2L).foreach(b => SketchStore.update(spark, key,
        (1 to 20).map(i => (s"g${i % 2}", s"item${i * b}"))
          .toDF("grp", "it"), "grp", col("it"), b, k = 8, seed = 3L))
      SketchStore.compactPanes(spark, key)
      under("sketchstore", key, "_sketch_meta.json")
    }, """{"last_batch_id": 2, "k": 8, "seed": 3, "verify_floor": 2}"""),
    ("_purgelog_meta.json", () => {
      val key = s"pin-purgelog-$runTag"
      val logDir = tmpDir("purgelog")
      DedupStore.dedupBatch(spark, key, batch1, batchId = 1L)
      val scope = Governance.PurgeScope(dedupSeen = Seq(key))
      Governance.purgeLogged(spark, ids(1L), scope, logDir, batchId = 4L)
      Paths.get(logDir, "_purgelog_meta.json")
    }, """{"last_batch_id": 4}"""),
    ("_gate_meta.json", () => {
      implicit val sqlCtx = spark.sqlContext
      val base = tmpDir("gate")
      val mem = MemoryStream[(Long, Double)]
      val q = StreamOps.streamingContractGate(
        mem.toDF().toDF("id", "value"), col("value") <= 10.0,
        s"$base/main", s"$base/quarantine", s"$base/audit").start()
      try {
        mem.addData((1L, 5.0), (2L, 15.0))
        q.processAllAvailable()
        mem.addData((3L, 1.0))
        q.processAllAvailable()
      } finally q.stop()
      Paths.get(s"$base/audit", "_gate_meta.json")
    }, """{"last_batch_id": 1}"""),
    ("_manifest.json", () => {
      val store = tmpDir("manifest")
      val canon = concat_ws(":", col("doc_id"), col("text"))
      Lineage.manifestBatch(store, batch1, canon, batchId = 0L)
      Lineage.manifestBatch(store, batch2, canon, batchId = 1L)
      Paths.get(store, "_manifest.json")
    }, """{"n_rows": 6, "checksum": "18551498360420955", """ +
      """"last_batch_id": 1, "last_batch_n": 3, """ +
      """"last_batch_cs": "7953830188138194"}"""),
    ("_index_meta.json", () => {
      val dir = tmpDir("index")
      IndexStore.create(spark, dir, dim = 64)
      Paths.get(dir, "_index_meta.json")
    }, """{"dim": 64, "metric": "cosine"}"""))

  pins.foreach { case (kind, run, want) =>
    test(s"format pin: $kind") {
      val got = Files.readString(run())
      assert(got === want.replace("<pid>", pid.toString), kind)
    }
  }
}
