package graft.sources

import graft.operators.CorpusOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED TOKENIZER ARTIFACTS — train-once/serve-many for the two
  * trainer families (public art: every production pipeline ships its
  * tokenizer as a versioned artifact — SentencePiece `.model`,
  * HuggingFace `tokenizer.json` — and never retrains per job). The
  * trainers ([[CorpusOps.bpeMergesLocal]], [[CorpusOps.unigramVocab]])
  * are deterministic functions of corpus CONTENT, so the freshness
  * rule is the [[AnnIndex.ensureLsh]] discipline verbatim: one
  * fingerprint pass over the text decides reuse-vs-retrain, the
  * artifact lands as parquet + meta-after-data, and any session can
  * attach the stored model without touching the corpus (pass
  * `snapshotId` for the O(1) no-scan reuse path).
  *
  * The stored artifact is row-identical to the trainer's output by
  * construction (it IS the trainer's output, persisted), so the
  * q101/q110/q219/q220 oracles certify the stored model transitively.
  */
object TokenizerStore {

  private def bpeBase(spark: SparkSession, tag: String) =
    s"${AnnIndex.annBase(spark)}/graft_tok_bpe_$tag"

  private def uniBase(spark: SparkSession, tag: String) =
    s"${AnnIndex.annBase(spark)}/graft_tok_uni_$tag"

  /** Build (or reuse) the persisted BPE merge list for `df`'s text at
    * `numMerges`. Returns the merges frame
    * (step, lhs, rhs, merged, pair_count, avg_symbols_per_word) —
    * [[CorpusOps.bpeMergesLocal]]'s exact output shape, read from the
    * store on reuse.
    */
  def ensureBpeMerges(
      spark: SparkSession,
      sourceDir: String,
      df: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      snapshotId: Option[String] = None): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = bpeBase(spark, tag)
    val dir = s"$base/merges"
    def opFresh(meta: Map[String, Long]): Boolean =
      meta.get("n_merges").contains(numMerges.toLong)
    val snapFresh = snapshotId.exists(id =>
      AnnIndex.readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(AnnIndex.readMeta(base)))
    if (snapFresh && AnnIndex.parquetReadable(spark, dir))
      return ParquetIO.read(spark, dir).orderBy("step")
    val (n, fp) = AnnIndex.fingerprint(df.select(col(textCol)))
    val meta = AnnIndex.readMeta(base)
    val fresh = opFresh(meta) && meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) &&
      AnnIndex.parquetReadable(spark, dir)
    if (!fresh) {
      CorpusOps.bpeMergesLocal(df, numMerges, textCol)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
      AnnIndex.writeMetaFull(base,
        Seq("n_merges" -> numMerges.toLong, "n_rows" -> n,
          "checksum" -> fp),
        snapshotId.map("snapshot_id" -> _).toSeq)
    } else if (snapshotId.isDefined)
      AnnIndex.writeMetaFull(base, meta.toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    ParquetIO.read(spark, dir).orderBy("step")
  }

  /** The stored merge LIST (the shape [[CorpusOps.bpeEncodeTokens]]
    * consumes), via [[ensureBpeMerges]].
    */
  def ensureBpeMergeList(
      spark: SparkSession,
      sourceDir: String,
      df: DataFrame,
      numMerges: Int,
      textCol: String = "text",
      snapshotId: Option[String] = None): Seq[(String, String)] =
    ensureBpeMerges(spark, sourceDir, df, numMerges, textCol, snapshotId)
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** Build (or reuse) the persisted unigram-LM vocabulary — the
    * [[CorpusOps.unigramVocab]] output (piece, n_chars, count, prob),
    * the frame [[CorpusOps.unigramEncodeTokens]] consumes.
    */
  def ensureUnigramVocab(
      spark: SparkSession,
      sourceDir: String,
      df: DataFrame,
      vocabSize: Int = 512,
      maxPieceLen: Int = 4,
      emRounds: Int = 2,
      seedSize: Int = 2048,
      textCol: String = "text",
      snapshotId: Option[String] = None): DataFrame = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = uniBase(spark, tag)
    val dir = s"$base/vocab"
    def opFresh(meta: Map[String, Long]): Boolean =
      meta.get("vocab_size").contains(vocabSize.toLong) &&
        meta.get("max_piece_len").contains(maxPieceLen.toLong) &&
        meta.get("em_rounds").contains(emRounds.toLong) &&
        meta.get("seed_size").contains(seedSize.toLong)
    val snapFresh = snapshotId.exists(id =>
      AnnIndex.readMetaStrs(base).get("snapshot_id").contains(id) &&
        opFresh(AnnIndex.readMeta(base)))
    if (snapFresh && AnnIndex.parquetReadable(spark, dir))
      return ParquetIO.read(spark, dir)
    val (n, fp) = AnnIndex.fingerprint(df.select(col(textCol)))
    val meta = AnnIndex.readMeta(base)
    val fresh = opFresh(meta) && meta.get("n_rows").contains(n) &&
      meta.get("checksum").contains(fp) &&
      AnnIndex.parquetReadable(spark, dir)
    if (!fresh) {
      CorpusOps.unigramVocab(df, vocabSize, maxPieceLen, emRounds,
          seedSize, textCol)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
      AnnIndex.writeMetaFull(base,
        Seq("vocab_size" -> vocabSize.toLong,
          "max_piece_len" -> maxPieceLen.toLong,
          "em_rounds" -> emRounds.toLong,
          "seed_size" -> seedSize.toLong,
          "n_rows" -> n, "checksum" -> fp),
        snapshotId.map("snapshot_id" -> _).toSeq)
    } else if (snapshotId.isDefined)
      AnnIndex.writeMetaFull(base, meta.toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    ParquetIO.read(spark, dir)
  }

  /** Remove the persisted artifacts (test/ops hygiene). */
  def drop(spark: SparkSession, sourceDir: String): Unit = {
    val tag = IndexStore.pathTag(sourceDir)
    StoreFiles.rm(bpeBase(spark, tag))
    StoreFiles.rm(uniBase(spark, tag))
  }
}
