package graft.sources

import graft.{Tables, TestSpark}
import graft.operators.SimilaritySearch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S4/S5 persisted ANN index lifecycle: build / attach / incremental
  * upsert. Every assertion is a deterministic EQUALITY against the
  * in-memory path at the same operating point (same signatures, same
  * tie-breaks) — no recall thresholds to get lucky on.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb: DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")

  private def queries: DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  private def hits(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  // unique layout locations per suite run so reruns never see stale meta
  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  /** One codec of the flat quantized layouts: its public verbs and its
    * fixture. The lifecycle tests written once below run per codec; BQ
    * runs on the 1536-dim fixture of the BQ / IVF-BQ family.
    */
  private case class FlatCodec(label: String, stem: String,
      rows: () => DataFrame, qs: () => DataFrame,
      ensure: (String, DataFrame, Option[String]) => AnnIndex.CodesHandle,
      upsert: (String, DataFrame) => AnnIndex.CodesHandle,
      delete: (String, DataFrame) => AnnIndex.CodesHandle,
      open: String => AnnIndex.CodesHandle,
      query: (DataFrame, AnnIndex.CodesHandle) => DataFrame)

  private val flatCodecs = Seq(
    FlatCodec("SQ8", "sq8", () => emb, () => queries,
      (src, rows, snap) => AnnIndex.ensureSq8(spark, src, rows,
        snapshotId = snap),
      (src, rows) => AnnIndex.upsertSq8(spark, src, rows),
      (src, ids) => AnnIndex.deleteSq8(spark, src, ids),
      src => AnnIndex.openSq8(spark, src),
      (q, h) => AnnIndex.querySq8(q, h, k = 4, m = 32)),
    FlatCodec("BQ", "bq", () => tiled1536, () => tQueries,
      (src, rows, snap) => AnnIndex.ensureBq(spark, src, rows,
        snapshotId = snap),
      (src, rows) => AnnIndex.upsertBq(spark, src, rows),
      (src, ids) => AnnIndex.deleteBq(spark, src, ids),
      src => AnnIndex.openBq(spark, src),
      (q, h) => AnnIndex.queryBq(q, h, k = 4, m = 256)))

  /** One codec of the composed IVF layouts (lists = 8, iters = 3,
    * nProbe = 3 throughout): its public and streaming verbs, its
    * in-memory twin and list assigner, and its fixture.
    */
  private case class IvfCodec(verb: String, label: String, stem: String,
      encoding: String, rows: () => DataFrame, qs: () => DataFrame,
      ensure: (String, DataFrame) => AnnIndex.IvfCodesHandle,
      upsert: (String, DataFrame, Option[Long]) => AnnIndex.IvfCodesHandle,
      delete: (String, DataFrame) => AnnIndex.IvfCodesHandle,
      open: String => AnnIndex.IvfCodesHandle,
      compact: String => AnnIndex.IvfCodesHandle,
      query: (DataFrame, AnnIndex.IvfCodesHandle) => DataFrame,
      inMemory: (DataFrame, DataFrame, DataFrame) => DataFrame,
      assign: (DataFrame, DataFrame) => DataFrame,
      streamUpsert: (DataFrame, String) => DataStreamWriter[Row],
      streamRetrieve: (DataFrame, String, (DataFrame, Long) => Unit) =>
        DataStreamWriter[Row])

  private val ivfCodecs = Seq(
    IvfCodec("Sq8", "IVF-SQ8", "ivfsq8", "quantized", () => emb,
      () => queries,
      (src, rows) => AnnIndex.ensureIvfSq8(spark, src, rows, lists = 8,
        iters = 3),
      (src, rows, b) => AnnIndex.upsertIvfSq8(spark, src, rows, lists = 8,
        iters = 3, batchId = b),
      (src, ids) => AnnIndex.deleteIvfSq8(spark, src, ids),
      src => AnnIndex.openIvfSq8(spark, src),
      src => AnnIndex.compactIvfSq8(spark, src),
      (q, h) => AnnIndex.queryIvfSq8(q, h, k = 4, nProbe = 3, m = 16),
      (q, rows, cents) => SimilaritySearch.ivfSq8TopK(q, rows, cents,
        k = 4, nProbe = 3, m = 16),
      SimilaritySearch.assignQuantized,
      (df, src) => graft.streaming.StreamOps.streamingIvfSq8Upsert(df, src,
        lists = 8, iters = 3),
      (df, src, sink) => graft.streaming.StreamOps.streamingIvfSq8Retrieve(
        df, src, k = 4, nProbe = 3, m = 16)(sink)),
    IvfCodec("Bq", "IVF-BQ", "ivfbq", "binary", () => tiled1536,
      () => tQueries,
      (src, rows) => AnnIndex.ensureIvfBq(spark, src, rows, lists = 8,
        iters = 3),
      (src, rows, b) => AnnIndex.upsertIvfBq(spark, src, rows, lists = 8,
        iters = 3, batchId = b),
      (src, ids) => AnnIndex.deleteIvfBq(spark, src, ids),
      src => AnnIndex.openIvfBq(spark, src),
      src => AnnIndex.compactIvfBq(spark, src),
      (q, h) => AnnIndex.queryIvfBq(q, h, k = 4, nProbe = 3, m = 256),
      (q, rows, cents) => SimilaritySearch.ivfBqTopK(q, rows, cents,
        k = 4, nProbe = 3, m = 256),
      SimilaritySearch.assignBinary,
      (df, src) => graft.streaming.StreamOps.streamingIvfBqUpsert(df, src,
        lists = 8, iters = 3),
      (df, src, sink) => graft.streaming.StreamOps.streamingIvfBqRetrieve(
        df, src, k = 4, nProbe = 3, m = 256)(sink)))

  test("persisted queryLsh is row-identical to the in-memory lshTopK") {
    val h = AnnIndex.ensureLsh(spark, s"spec-$runTag-a", emb,
      tables = 16, bits = 6)
    val persisted = hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
    val inMemory = hits(SimilaritySearch.lshTopK(queries, emb, k = 4,
      tables = 16, bits = 6, probes = 8))
    assert(persisted === inMemory)
    assert(persisted.nonEmpty)
  }

  test("snapshot-id freshness: a matching id skips the content scan; a " +
      "new id re-fingerprints and rebuilds on real change") {
    val src = s"spec-$runTag-snap"
    val rows1 = emb.filter(col("vec_id") < 200)
    val h1 = AnnIndex.ensureLsh(spark, src, rows1, tables = 16, bits = 6,
      snapshotId = Some("v1"))
    val n1 = h1.vecs.count()
    assert(n1 === rows1.count())
    // DIFFERENT content under the SAME id: the id is trusted (no scan),
    // so the index must NOT rebuild — proving the fingerprint pass was
    // skipped (it would have detected the change)
    val rows2 = emb.filter(col("vec_id") < 300)
    val h2 = AnnIndex.ensureLsh(spark, src, rows2, tables = 16, bits = 6,
      snapshotId = Some("v1"))
    assert(h2.vecs.count() === n1)
    // a NEW id falls back to the fingerprint path and rebuilds
    val h3 = AnnIndex.ensureLsh(spark, src, rows2, tables = 16, bits = 6,
      snapshotId = Some("v2"))
    assert(h3.vecs.count() === rows2.count())
    // …and the recorded id makes the next call O(1) again
    val h4 = AnnIndex.ensureLsh(spark, src, rows1, tables = 16, bits = 6,
      snapshotId = Some("v2"))
    assert(h4.vecs.count() === rows2.count())
    // an id recorded at build time must not survive an upsert: the
    // layout moved ahead of the snapshot it named
    AnnIndex.upsertLsh(spark, src,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 310),
      tables = 16, bits = 6)
    val h5 = AnnIndex.ensureLsh(spark, src, rows2, tables = 16, bits = 6,
      snapshotId = Some("v2"))
    assert(h5.vecs.count() === rows2.count()) // fingerprint path rebuilt
  }

  test("IVF snapshot-id freshness mirrors the LSH contract") {
    val src = s"spec-$runTag-ivfsnap"
    val rows1 = emb.filter(col("vec_id") < 200)
    val h1 = AnnIndex.ensureIvf(spark, src, rows1, lists = 8, iters = 2,
      snapshotId = Some("v1"))
    val n1 = h1.lists.count()
    // different content, same id: trusted — no scan, no rebuild
    val rows2 = emb.filter(col("vec_id") < 300)
    val h2 = AnnIndex.ensureIvf(spark, src, rows2, lists = 8, iters = 2,
      snapshotId = Some("v1"))
    assert(h2.lists.count() === n1)
    // new id: fingerprint path rebuilds on the real change
    val h3 = AnnIndex.ensureIvf(spark, src, rows2, lists = 8, iters = 2,
      snapshotId = Some("v2"))
    assert(h3.lists.count() === rows2.count())
  }

  test("dropping the catalog registration re-attaches without a rebuild") {
    val src = s"spec-$runTag-b"
    AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val tag = IndexStore.pathTag(src)
    val layout = java.nio.file.Paths.get(s"/tmp/graft_ann_lsh_$tag/buckets")
    val mtimesBefore = java.nio.file.Files.list(layout).toArray.map(p =>
      java.nio.file.Files.getLastModifiedTime(
        p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq
    // simulate a fresh JVM: the files survive, the catalog entry does not
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_buckets_$tag")
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_vecs_$tag")
    val h = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val mtimesAfter = java.nio.file.Files.list(layout).toArray.map(p =>
      java.nio.file.Files.getLastModifiedTime(
        p.asInstanceOf[java.nio.file.Path]).toMillis).sorted.toSeq
    assert(mtimesAfter === mtimesBefore, "attach must not rewrite the layout")
    assert(hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8)).nonEmpty)
  }

  test("a content change at the same row count triggers a rebuild") {
    val src = s"spec-$runTag-c"
    val h1 = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val n1 = h1.vecs.count()
    // same cardinality, different content: shift every id by 100000
    val shifted = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    val h2 = AnnIndex.ensureLsh(spark, src, shifted, tables = 16, bits = 6)
    assert(h2.vecs.count() === n1)
    assert(h2.vecs.agg(min("vec_id")).head().getLong(0) === 100000L,
      "row-count-preserving change must invalidate the stale layout")
  }

  test("upserted LSH index answers identically to one built on the full set") {
    val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
    val tailRows = emb.filter(col("vec_id") % 10 === 7)
    val upserted = AnnIndex.ensureLshUpserted(spark, s"spec-$runTag-d",
      baseRows, tailRows, tables = 16, bits = 6)
    val rebuilt = AnnIndex.ensureLsh(spark, s"spec-$runTag-e", emb,
      tables = 16, bits = 6)
    val a = hits(AnnIndex.queryLsh(queries, upserted, k = 4, probes = 8))
    val b = hits(AnnIndex.queryLsh(queries, rebuilt, k = 4, probes = 8))
    assert(a === b)
    // the tail is genuinely in the upserted index
    assert(upserted.vecs.filter(col("vec_id") % 10 === 7).count() ===
      tailRows.count())
    // second ensure over the same split reuses the combined layout
    // (meta fresh) instead of re-appending the tail
    val again = AnnIndex.ensureLshUpserted(spark, s"spec-$runTag-d",
      baseRows, tailRows, tables = 16, bits = 6)
    assert(again.vecs.count() === emb.count())
  }

  test("upsertLsh refuses a mismatched operating point") {
    val src = s"spec-$runTag-f"
    AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.upsertLsh(spark, src, emb, tables = 32, bits = 6)
    }
    assert(e.getMessage.contains("operating point"))
  }

  test("streaming upsert: micro-batched appends converge to the full index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = s"spec-$runTag-h"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
    AnnIndex.ensureLsh(spark, src, baseRows, tables = 16, bits = 6)
    val tail = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") % 10 === 7)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (tail1, tail2) = tail.splitAt(tail.length / 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamOps.streamingIndexUpsert(
      mem.toDF().toDF("vec_id", "embedding"), src, tables = 16, bits = 6)
      .start()
    mem.addData(tail1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(tail2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val h = AnnIndex.openLsh(spark, src)
    assert(h.vecs.count() === emb.count())
    val streamed = hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
    val inMemory = hits(SimilaritySearch.lshTopK(queries, emb, k = 4,
      tables = 16, bits = 6, probes = 8))
    assert(streamed === inMemory)
  }

  test("compactLsh rewrites streamed appends into few files per table " +
      "with identical answers and untouched meta contracts") {
    val src = s"spec-$runTag-k"
    AnnIndex.ensureLsh(spark, src,
      emb.filter(col("vec_id") % 10 =!= 7), tables = 16, bits = 6)
    // three batchId'd appends -> three extra file sets per table
    val tail = emb.filter(col("vec_id") % 10 === 7).collect()
    tail.grouped(tail.length / 3 + 1).zipWithIndex.foreach {
      case (chunk, i) =>
        import spark.implicits._
        AnnIndex.upsertLsh(spark, src,
          chunk.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
            .toDF("vec_id", "embedding"),
          tables = 16, bits = 6, batchId = Some(i.toLong))
    }
    val before = AnnIndex.openLsh(spark, src)
    val beforeHits = hits(AnnIndex.queryLsh(queries, before, k = 4,
      probes = 8))
    val beforeFiles = before.vecs.inputFiles.length
    val h = AnnIndex.compactLsh(spark, src)
    assert(h.vecs.inputFiles.length < beforeFiles,
      s"no file-count win ($beforeFiles -> ${h.vecs.inputFiles.length})")
    assert(hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
      === beforeHits)
    // replay guard survives: re-applying the last batchId is a no-op
    val n1 = h.vecs.count()
    import spark.implicits._
    val h2 = AnnIndex.upsertLsh(spark, src,
      tail.take(5).map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .toSeq.toDF("vec_id", "embedding"),
      tables = 16, bits = 6, batchId = Some(0L))
    assert(h2.vecs.count() === n1, "replay guard lost by compaction")
    // and a genuinely NEW batch appends into the compacted layout
    val h3 = AnnIndex.upsertLsh(spark, src,
      tail.take(5).map(r => (r.getLong(0) + 900000L,
        r.getSeq[Float](1).toArray)).toSeq.toDF("vec_id", "embedding"),
      tables = 16, bits = 6, batchId = Some(3L))
    assert(h3.vecs.count() === n1 + 5,
      "live append into the compacted table failed")
  }

  test("a crashed compaction's rename window (live dir missing under a " +
      "matching meta) is recovered by ensureLsh as a rebuild") {
    val src = s"spec-$runTag-m"
    val h0 = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val expected = hits(AnnIndex.queryLsh(queries, h0, k = 4, probes = 8))
    val tag = IndexStore.pathTag(src)
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(s"/tmp/graft_ann_lsh_$tag/buckets").toFile)
    val h = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    assert(hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
      === expected)
  }

  test("upsertLsh with a batchId skips a replayed batch (idempotent " +
      "foreachBatch)") {
    val src = s"spec-$runTag-i"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
    val tail1 = emb.filter(col("vec_id") % 10 === 7)
    val tail2 = emb.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    AnnIndex.ensureLsh(spark, src, baseRows, tables = 16, bits = 6)
    val h1 = AnnIndex.upsertLsh(spark, src, tail1, tables = 16, bits = 6,
      batchId = Some(0L))
    val n1 = h1.vecs.count()
    assert(n1 === baseRows.count() + tail1.count())
    // replay of batch 0: must be a no-op, not a duplicate append that
    // would multiply rerank candidates
    val h2 = AnnIndex.upsertLsh(spark, src, tail1, tables = 16, bits = 6,
      batchId = Some(0L))
    assert(h2.vecs.count() === n1, "replayed batch must be skipped")
    // and the next batch still applies
    val h3 = AnnIndex.upsertLsh(spark, src, tail2, tables = 16, bits = 6,
      batchId = Some(1L))
    assert(h3.vecs.count() === n1 + tail2.count())
  }

  test("upsertIvf drift gate: a tail overwhelming the trained base fails " +
      "loudly instead of silently eroding recall") {
    val src = s"spec-$runTag-j"
    val baseRows = emb.filter(col("vec_id") % 10 === 7) // ~10% of the set
    val bigTail = emb.filter(col("vec_id") % 10 =!= 7)  // ~9x the base
    AnnIndex.ensureIvf(spark, src, baseRows, lists = 8, iters = 3)
    val e = intercept[IllegalStateException] {
      AnnIndex.upsertIvf(spark, src, bigTail, lists = 8, iters = 3)
    }
    assert(e.getMessage.contains("drift"))
    // the gate is a conf, not a wall: raising it deliberately admits the
    // same tail (the caller owns the recall tradeoff, explicitly)
    spark.conf.set("spark.graft.ann.ivf.maxTailRatio", "20.0")
    try {
      val h = AnnIndex.upsertIvf(spark, src, bigTail, lists = 8, iters = 3)
      assert(h.lists.count() === emb.count())
    } finally spark.conf.unset("spark.graft.ann.ivf.maxTailRatio")
  }

  test("upserted IVF lists equal a full assignment against the stored centroids") {
    val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
    val tailRows = emb.filter(col("vec_id") % 10 === 7)
    val h = AnnIndex.ensureIvfUpserted(spark, s"spec-$runTag-g",
      baseRows, tailRows, lists = 8, iters = 3)
    val expected = SimilaritySearch.assignWithVecs(emb, h.centroids)
      .select("centroid_id", "vec_id")
    val stored = h.lists.select("centroid_id", "vec_id")
    assert(expected.exceptAll(stored).count() === 0, "missing assignments")
    assert(stored.exceptAll(expected).count() === 0, "extra assignments")
    assert(stored.count() === emb.count())
  }

  test("persisted SQ8 serves the exact kNN result and reuses the layout") {
    val src = s"spec-$runTag-sq8"
    val h = AnnIndex.ensureSq8(spark, src, emb)
    val served = hits(AnnIndex.querySq8(queries, h, k = 4, m = 32))
    val exact = hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4))
    assert(served === exact)
    // codes table carries the compressed layout, one row per vector
    assert(h.codes.count() === emb.count())
    assert(h.codes.schema("codes").dataType ===
      org.apache.spark.sql.types.BinaryType)
    // a second ensure over identical content must reuse (same fingerprint)
    val metaBefore = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"/tmp/graft_ann_sq8_${IndexStore.pathTag(src)}",
        "_ann_meta.json"))
    val h2 = AnnIndex.ensureSq8(spark, src, emb)
    val metaAfter = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"/tmp/graft_ann_sq8_${IndexStore.pathTag(src)}",
        "_ann_meta.json"))
    assert(metaBefore === metaAfter, "fresh layout must not rebuild")
    assert(hits(AnnIndex.querySq8(queries, h2, k = 4, m = 32)) === exact)
    // a content change is detected and rebuilt
    val fewer = emb.filter(col("vec_id") < 300)
    val h3 = AnnIndex.ensureSq8(spark, src, fewer)
    assert(h3.codes.count() === fewer.count())
  }

  flatCodecs.foreach { c =>
    test(s"${c.label} snapshot-id freshness mirrors the LSH contract") {
      val src = s"spec-$runTag-${c.stem}snap"
      val rows1 = c.rows().filter(col("vec_id") < 200)
      val h1 = c.ensure(src, rows1, Some("v1"))
      assert(h1.codes.count() === rows1.count())
      // different content, SAME id: trusted without a scan — no rebuild
      val rows2 = c.rows().filter(col("vec_id") < 300)
      val h2 = c.ensure(src, rows2, Some("v1"))
      assert(h2.codes.count() === rows1.count())
      // a NEW id re-fingerprints and rebuilds on the real change
      val h3 = c.ensure(src, rows2, Some("v2"))
      assert(h3.codes.count() === rows2.count())
    }
  }

  test("querySq8Filtered: pre-filter semantics — top-k within the " +
      "filtered set, identical to exact kNN over the filtered index") {
    val src = s"spec-$runTag-sq8f"
    val withLabel = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val h = AnnIndex.ensureSq8(spark, src, emb)
    val allowed = withLabel.filter(col("label") % 2 === 0)
    val served = hits(AnnIndex.querySq8Filtered(queries, h,
      allowed.select("vec_id"), k = 4, m = 32))
    val exact = hits(SimilaritySearch.bruteForceTopK(queries,
      allowed.select("vec_id", "embedding"), k = 4))
    assert(served === exact)
    // every hit satisfies the filter, and every query still gets its
    // full k (the post-filter shape would violate both)
    val allowedIds = allowed.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.forall(h3 => allowedIds(h3._3)))
    assert(served.groupBy(_._1).forall(_._2.size == 4))
    // an excluded unfiltered winner really was displaced, not dropped:
    // the unfiltered top-k differs from the filtered one here
    val unfiltered = hits(AnnIndex.querySq8(queries, h, k = 4, m = 32))
    assert(unfiltered !== served)
  }

  test("compactSq8 rewrites streamed appends into few files per table " +
      "with identical answers and untouched meta contracts") {
    val src = s"spec-$runTag-sq8k"
    AnnIndex.ensureSq8(spark, src, emb.filter(col("vec_id") % 10 =!= 7))
    // three batchId'd appends -> three extra file sets per table
    val tail = emb.filter(col("vec_id") % 10 === 7).collect()
    tail.grouped(tail.length / 3 + 1).zipWithIndex.foreach {
      case (chunk, i) =>
        import spark.implicits._
        AnnIndex.upsertSq8(spark, src,
          chunk.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
            .toDF("vec_id", "embedding"),
          batchId = Some(i.toLong))
    }
    val before = AnnIndex.openSq8(spark, src)
    val beforeHits = hits(AnnIndex.querySq8(queries, before, k = 4, m = 32))
    val beforeFiles = before.codes.inputFiles.length
    val h = AnnIndex.compactSq8(spark, src)
    assert(h.codes.inputFiles.length < beforeFiles,
      s"no file-count win ($beforeFiles -> ${h.codes.inputFiles.length})")
    assert(hits(AnnIndex.querySq8(queries, h, k = 4, m = 32))
      === beforeHits)
    // the compacted layout still serves the EXACT kNN result (the q105
    // identity survives compaction of a many-batch layout)
    assert(beforeHits ===
      hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
    // replay guard survives: re-applying the last batchId is a no-op
    val n1 = h.codes.count()
    import spark.implicits._
    val h2 = AnnIndex.upsertSq8(spark, src,
      tail.take(5).map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .toSeq.toDF("vec_id", "embedding"),
      batchId = Some(0L))
    assert(h2.codes.count() === n1, "replay guard lost by compaction")
    // and a genuinely NEW batch appends into the compacted layout
    val h3 = AnnIndex.upsertSq8(spark, src,
      tail.take(5).map(r => (r.getLong(0) + 900000L,
        r.getSeq[Float](1).toArray)).toSeq.toDF("vec_id", "embedding"),
      batchId = Some(3L))
    assert(h3.codes.count() === n1 + 5,
      "live append into the compacted table failed")
  }

  flatCodecs.foreach { c =>
    test(s"a crashed ${c.label} compaction's rename window (live dir missing " +
        s"under a matching meta) is recovered by ensure${c.stem.capitalize} " +
        "as a rebuild") {
      val src = s"spec-$runTag-${c.stem}m"
      val h0 = c.ensure(src, c.rows(), None)
      val expected = hits(c.query(c.qs(), h0))
      val tag = IndexStore.pathTag(src)
      org.apache.commons.io.FileUtils.deleteDirectory(
        java.nio.file.Paths.get(s"/tmp/graft_ann_${c.stem}_$tag/codes").toFile)
      // open / upsert must fail loudly on the gutted layout…
      val e = intercept[IllegalArgumentException] {
        c.open(src)
      }
      assert(e.getMessage.contains("unreadable"))
      // …and ensure treats it as stale and rebuilds
      val h = c.ensure(src, c.rows(), None)
      assert(hits(c.query(c.qs(), h)) === expected)
    }
  }

  // the IVF codec layouts' crash window: per layout the dirs a crashed
  // compaction (or a lost model dir) leaves missing, and its ensure +
  // query reduced to the answers served; flat PQ and OPQ (no upsert
  // verb) lose their model dirs
  (ivfCodecs.map(c => (c.label, c.stem, Seq("lists"),
      (src: String) => hits(c.query(c.qs(), c.ensure(src, c.rows()))),
      (src: String) => c.open(src),
      Option((src: String) => c.upsert(src, c.rows()
        .filter(col("vec_id") === 0L)
        .select((col("vec_id") + 990000L).as("vec_id"), col("embedding")),
        None)))) :+
    (("IVF-PQ", "ivfpq", Seq("lists", "codebook"),
      (src: String) => hits(AnnIndex.queryIvfPq(queries,
        AnnIndex.ensureIvfPq(spark, src, emb, lists = 8, iters = 2),
        k = 4, nProbe = 3, m = 64)),
      (src: String) => AnnIndex.openIvfPq(spark, src),
      Option((src: String) => AnnIndex.upsertIvfPq(spark, src,
        emb.filter(col("vec_id") === 0L)
          .select((col("vec_id") + 990000L).as("vec_id"),
            col("embedding")))))) :+
    (("IVF", "ivf", Seq("lists"),
      (src: String) => hits(AnnIndex.queryIvf(queries,
        AnnIndex.ensureIvf(spark, src, emb, lists = 8, iters = 2),
        k = 4, nProbe = 3)),
      (src: String) => AnnIndex.openIvf(spark, src),
      Option((src: String) => AnnIndex.upsertIvf(spark, src,
        emb.filter(col("vec_id") === 0L)
          .select((col("vec_id") + 990000L).as("vec_id"), col("embedding")),
        lists = 8, iters = 2)))) :+
    (("PQ", "pq", Seq("codebook"),
      (src: String) => hits(AnnIndex.queryPq(queries,
        AnnIndex.ensurePq(spark, src, emb, ksub = 16), k = 4, m = 64)),
      (src: String) => AnnIndex.openPq(spark, src), None)) :+
    (("OPQ", "opq", Seq("codebook", "rotation"),
      (src: String) => hits(AnnIndex.queryOpq(queries,
        AnnIndex.ensureOpq(spark, src, emb, ksub = 16), k = 4, m = 64)),
      (src: String) => AnnIndex.openOpq(spark, src), None))
  ).foreach { case (label, stem, lost, serve, open, upsert) =>
    test(s"a crashed $label layout (${lost.mkString(" + ")} missing under " +
        "a matching meta) fails open" + upsert.fold("")(_ => " and upsert") +
        " loudly and is recovered by ensure as a rebuild") {
      val src = s"spec-$runTag-${stem}m"
      val expected = serve(src)
      val base = s"/tmp/graft_ann_${stem}_${IndexStore.pathTag(src)}"
      lost.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(
        java.nio.file.Paths.get(base, d).toFile))
      (open +: upsert.toSeq).foreach { verb =>
        val e = intercept[IllegalArgumentException] { verb(src) }
        assert(e.getMessage.contains("unreadable"))
      }
      assert(serve(src) === expected)
      lost.foreach(d =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base, d))))
    }
  }

  // a delete tombstones only ids its layout still serves: an id never
  // indexed and an id already deleted leave tomb_rows at the live rows
  // deleted, and the never-indexed id stays insertable
  (flatCodecs.map(c => (c.label, c.stem, c.rows,
      (src: String) => c.ensure(src, c.rows(), None), c.delete, c.upsert)) ++
    ivfCodecs.map(c => (c.label, c.stem, c.rows,
      (src: String) => c.ensure(src, c.rows()), c.delete,
      (src: String, rows: DataFrame) => c.upsert(src, rows, None))) ++
    Seq(("LSH", "lsh", () => emb,
      (src: String) => AnnIndex.ensureLsh(spark, src, emb, tables = 4,
        bits = 4),
      (src: String, ids: DataFrame) => AnnIndex.deleteLsh(spark, src, ids),
      (src: String, rows: DataFrame) => AnnIndex.upsertLsh(spark, src, rows,
        tables = 4, bits = 4)),
    ("IVF-PQ", "ivfpq", () => emb,
      (src: String) => AnnIndex.ensureIvfPq(spark, src, emb, lists = 8,
        iters = 2, numSub = 16, ksub = 16),
      (src: String, ids: DataFrame) => AnnIndex.deleteIvfPq(spark, src, ids),
      (src: String, rows: DataFrame) => AnnIndex.upsertIvfPq(spark, src,
        rows)),
    ("IVF", "ivf", () => emb,
      (src: String) => AnnIndex.ensureIvf(spark, src, emb, lists = 8,
        iters = 2),
      (src: String, ids: DataFrame) => AnnIndex.deleteIvf(spark, src, ids),
      (src: String, rows: DataFrame) => AnnIndex.upsertIvf(spark, src, rows,
        lists = 8, iters = 2)))
  ).foreach { case (label, stem, rows, ensure, delete, upsert) =>
    test(s"$label delete tombstones only live ids: a never-indexed and an " +
        "already-deleted id leave tomb_rows at the rows deleted, and the " +
        "never-indexed id upserts cleanly") {
      import spark.implicits._
      val src = s"spec-$runTag-${stem}live"
      val at = s"/tmp/graft_ann_${stem}_${IndexStore.pathTag(src)}"
      val absent = 987654321L
      ensure(src)
      delete(src, Seq(1L, 2L).toDF("vec_id"))
      delete(src, Seq(2L, absent, absent).toDF("vec_id"))
      val meta = AnnIndex.readMeta(at)
      assert(meta.get("tomb_rows").contains(2L), meta)
      upsert(src, rows().filter(col("vec_id") === 0L)
        .select(lit(absent).as("vec_id"), col("embedding")))
      assert(AnnIndex.readMeta(at).get("n_rows")
        .contains(meta("n_rows") + 1L))
    }
  }

  test("persisted IVF-SQ8 equals the in-memory composed path AND the " +
      "float IVF at the same operating point") {
    val src = s"spec-$runTag-ivfsq8"
    val h = AnnIndex.ensureIvfSq8(spark, src, emb, lists = 8, iters = 3)
    val persisted = hits(AnnIndex.queryIvfSq8(queries, h, k = 4,
      nProbe = 3, m = 16))
    val inMemory = hits(SimilaritySearch.ivfSq8TopK(queries, emb,
      h.centroids, k = 4, nProbe = 3, m = 16))
    assert(persisted === inMemory)
    // the SQ8 layer inside the probed lists is lossless: identical to
    // the float IVF at the same (centroids, nProbe)
    val ivfFloat = hits(SimilaritySearch.ivfTopK(queries, emb,
      h.centroids, k = 4, nProbe = 3))
    assert(persisted === ivfFloat)
    assert(persisted.nonEmpty)
    // codes table holds int8 codes partitioned by centroid, no floats
    assert(h.lists.schema("codes").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(!h.lists.columns.contains("embedding"),
      "quantized lists must not carry the float vectors")
  }

  ivfCodecs.foreach { c =>
    test(s"upserted ${c.label} lists equal a full ${c.encoding} assignment " +
        "against the stored centroids, and the drift gate fires") {
      val emb = c.rows()
      val src = s"spec-$runTag-${c.stem}up"
      val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
      val tailRows = emb.filter(col("vec_id") % 10 === 7)
      c.ensure(src, baseRows)
      val h = c.upsert(src, tailRows, None)
      val expected = c.assign(emb, h.centroids)
        .select("centroid_id", "vec_id")
      val stored = h.lists.select("centroid_id", "vec_id")
      assert(expected.exceptAll(stored).count() === 0, "missing assignments")
      assert(stored.exceptAll(expected).count() === 0, "extra assignments")
      assert(h.vecs.count() === emb.count())
      // replayed batch id is a no-op
      val n1 = h.lists.count()
      val h2 = c.upsert(src,
        tailRows.select((col("vec_id") + 700000L).as("vec_id"),
          col("embedding")), Some(0L))
      c.upsert(src,
        tailRows.select((col("vec_id") + 700000L).as("vec_id"),
          col("embedding")), Some(0L))
      assert(h2.lists.count() === n1 + tailRows.count(),
        "replayed batch must be skipped")
      // drift gate: a tail overwhelming the trained base fails loudly
      val e = intercept[IllegalStateException] {
        c.upsert(src,
          emb.select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
            .unionByName(emb.select((col("vec_id") + 900000L).as("vec_id"),
              col("embedding"))),
          None)
      }
      assert(e.getMessage.contains("drift"))
    }
  }

  ivfCodecs.foreach { c =>
    test(s"compactIvf${c.verb} rewrites upserted appends into few files with " +
        "identical answers; streaming ingest + retrieve serve the " +
        "composed layout end-to-end") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val emb = c.rows()
      val queries = c.qs()
      val src = s"spec-$runTag-${c.stem}s"
      val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
      c.ensure(src, baseRows)
      // stream the 10% tail in two micro-batches through the composed
      // upsert (assignment to stored centroids + quantization per batch)
      val tail = emb.filter(col("vec_id") % 10 === 7)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val (tail1, tail2) = tail.splitAt(tail.length / 2)
      val mem = MemoryStream[(Long, Array[Float])]
      val q = c.streamUpsert(mem.toDF().toDF("vec_id", "embedding"), src)
        .start()
      mem.addData(tail1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(tail2.toIndexedSeq: _*)
      q.processAllAvailable()
      q.stop()
      val before = c.open(src)
      assert(before.vecs.count() === emb.count())
      val beforeHits = hits(c.query(queries, before))
      // streamed layout answers exactly like the in-memory composed path
      // over the full set at the same centroids
      assert(beforeHits === hits(c.inMemory(queries, emb, before.centroids)))
      // streaming retrieve serves the same answers from the stored layout
      val qmem = MemoryStream[(Long, Array[Float])]
      var streamed = Set.empty[(Long, Int, Long)]
      val rq = c.streamRetrieve(qmem.toDF().toDF("query_id", "query_vec"),
        src, (df, _) => streamed = hits(df))
        .start()
      qmem.addData(queries.collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq: _*)
      rq.processAllAvailable()
      rq.stop()
      assert(streamed === beforeHits)
      // compaction: fewer files, identical answers, replay guard intact
      val beforeFiles = before.lists.inputFiles.length +
        before.vecs.inputFiles.length
      val h = c.compact(src)
      assert(h.lists.inputFiles.length + h.vecs.inputFiles.length
        < beforeFiles,
        s"no file-count win ($beforeFiles -> ${
          h.lists.inputFiles.length + h.vecs.inputFiles.length})")
      assert(hits(c.query(queries, h)) === beforeHits)
      val n1 = h.lists.count()
      c.upsert(src,
        tail.take(5).map(r => (r._1 + 910000L, r._2)).toSeq
          .toDF("vec_id", "embedding"),
        Some(0L))
      assert(c.open(src).lists.count() === n1,
        "replay guard lost by compaction")
    }
  }

  test("compactIvf rewrites the partitioned lists with identical " +
      "answers and fewer files") {
    val src = s"spec-$runTag-ivfc"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 7)
    val tailRows = emb.filter(col("vec_id") % 10 === 7)
    AnnIndex.ensureIvf(spark, src, baseRows, lists = 8, iters = 3)
    val up = AnnIndex.upsertIvf(spark, src, tailRows, lists = 8, iters = 3)
    val beforeHits = hits(AnnIndex.queryIvf(queries, up, k = 4, nProbe = 3))
    val beforeFiles = up.lists.inputFiles.length
    val h = AnnIndex.compactIvf(spark, src)
    assert(h.lists.inputFiles.length < beforeFiles,
      s"no file-count win ($beforeFiles -> ${h.lists.inputFiles.length})")
    assert(hits(AnnIndex.queryIvf(queries, h, k = 4, nProbe = 3))
      === beforeHits)
  }

  test("upserted SQ8 index answers identically to one built on the full " +
      "set, and the composed checksum satisfies a later ensure") {
    val src = s"spec-$runTag-sq8up"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 3)
    val tailRows = emb.filter(col("vec_id") % 10 === 3)
    AnnIndex.ensureSq8(spark, src, baseRows)
    val hUp = AnnIndex.upsertSq8(spark, src, tailRows)
    assert(hUp.codes.count() === emb.count())
    val served = hits(AnnIndex.querySq8(queries, hUp, k = 4, m = 32))
    assert(served === hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
    // xor-composed checksum == full-set fingerprint: ensure over the
    // full content must REUSE (no rebuild)
    val metaBefore = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"/tmp/graft_ann_sq8_${IndexStore.pathTag(src)}",
        "_ann_meta.json"))
    AnnIndex.ensureSq8(spark, src, emb)
    val metaAfter = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"/tmp/graft_ann_sq8_${IndexStore.pathTag(src)}",
        "_ann_meta.json"))
    assert(metaBefore === metaAfter, "upserted layout must satisfy ensure")
    // a replayed batch id is skipped (no duplicate append)
    AnnIndex.upsertSq8(spark, src, tailRows, batchId = Some(1L))
    val n1 = AnnIndex.upsertSq8(spark, src, tailRows, batchId = Some(1L))
      .codes.count()
    assert(n1 === emb.count() + tailRows.count(), "replay must not re-append")
  }

  test("persisted PQ serves the exact kNN result, reuses the layout, and " +
      "rebuilds on content change") {
    val src = s"spec-$runTag-pq"
    val h = AnnIndex.ensurePq(spark, src, emb)
    val exact = hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4))
    assert(hits(AnnIndex.queryPq(queries, h, k = 4, m = 64)) === exact)
    // second ensure must REUSE (meta untouched)
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_pq_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    AnnIndex.ensurePq(spark, src, emb)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1)
    // open-without-probe serves identically
    assert(hits(AnnIndex.queryPq(queries, AnnIndex.openPq(spark, src),
      k = 4, m = 64)) === exact)
    // a content change re-trains + re-encodes (serve exactly the source)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val h2 = AnnIndex.ensurePq(spark, src, half)
    assert(h2.codes.count() === half.count())
    assert(hits(AnnIndex.queryPq(queries, h2, k = 4, m = 64))
      === hits(SimilaritySearch.bruteForceTopK(queries, half, k = 4)))
    // a mismatched operating point is a rebuild, not a silent reuse
    val h3 = AnnIndex.ensurePq(spark, src, half, numSub = 8, ksub = 16)
    assert(h3.numSub === 8)
    assert(h3.codebook.count() === 8L * 16)
  }

  test("persisted IVF-PQ equals the in-memory composed path; upsert " +
      "encodes with the stored model; drift gate fires; replay skipped") {
    val src = s"spec-$runTag-ivfpq"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 3)
    val tailRows = emb.filter(col("vec_id") % 10 === 3)
    val h = AnnIndex.ensureIvfPq(spark, src, baseRows, lists = 8,
      iters = 2, numSub = 16, ksub = 64, pqIters = 2)
    val persisted = hits(AnnIndex.queryIvfPq(queries, h, k = 4,
      nProbe = 3, m = 64))
    // in-memory twin over the SAME stored centroids and codebook
    val inMem = hits(SimilaritySearch.ivfPqTopK(queries, baseRows,
      h.centroids, k = 4, nProbe = 3, m = 64, numSub = 16, ksub = 64,
      codebooks = Some(h.codebook)))
    assert(persisted === inMem)
    assert(persisted.nonEmpty)
    // upsert: the upserted layout equals a full stored-model assignment
    val hUp = AnnIndex.upsertIvfPq(spark, src, tailRows, batchId = Some(1L))
    assert(hUp.lists.count() === emb.count())
    val full = hits(SimilaritySearch.ivfPqTopK(queries, emb,
      h.centroids, k = 4, nProbe = 3, m = 64, numSub = 16, ksub = 64,
      codebooks = Some(h.codebook)))
    assert(hits(AnnIndex.queryIvfPq(queries, hUp, k = 4, nProbe = 3,
      m = 64)) === full)
    // replayed batch id: no duplicate append
    AnnIndex.upsertIvfPq(spark, src, tailRows, batchId = Some(1L))
    assert(AnnIndex.openIvfPq(spark, src).lists.count() === emb.count())
    // drift gate: a tail overwhelming the trained base fails loudly
    val big = emb.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding"))
    val gate = intercept[IllegalStateException] {
      AnnIndex.upsertIvfPq(spark, src, big)
    }
    assert(gate.getMessage.contains("drift gate"))
  }

  test("deleteSq8 tombstones serve exact-kNN-minus-deleted; compactSq8 " +
      "folds them physically; ensure over the source clears them") {
    val src = s"spec-$runTag-sq8del"
    AnnIndex.ensureSq8(spark, src, emb)
    val delIds = emb.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteSq8(spark, src, delIds)
    // logical delete: rows survive on disk, the served view excludes them
    assert(h.codes.count() === emb.count() - 8)
    val survivors = emb.filter(col("vec_id") >= 8)
    val expected = hits(
      SimilaritySearch.bruteForceTopK(queries, survivors, k = 4))
    assert(hits(AnnIndex.querySq8(queries, h, k = 4, m = 32)) === expected)
    // deleting absent or already-deleted ids is a no-op on the served set
    val h2 = AnnIndex.deleteSq8(spark, src,
      emb.sparkSession.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.querySq8(queries, h2, k = 4, m = 32)) === expected)
    // replayed delete batch is skipped
    AnnIndex.deleteSq8(spark, src, delIds.limit(1), batchId = Some(7L))
    AnnIndex.deleteSq8(spark, src,
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 12).select("vec_id"),
      batchId = Some(7L))
    assert(hits(AnnIndex.querySq8(queries, AnnIndex.openSq8(spark, src),
      k = 4, m = 32)) === expected)
    // re-inserting a tombstoned id fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertSq8(spark, src, emb.filter(col("vec_id") === 3))
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, identical answers, tombstone dir gone
    val folded = AnnIndex.compactSq8(spark, src)
    assert(folded.codes.count() === emb.count() - 8)
    assert(folded.vecs.count() === emb.count() - 8)
    val tombDir = java.nio.file.Paths.get(
      s"/tmp/graft_ann_sq8_${IndexStore.pathTag(src)}", "tombs")
    assert(!java.nio.file.Files.exists(tombDir))
    assert(hits(AnnIndex.querySq8(queries, folded, k = 4, m = 32))
      === expected)
    // after the fold the deleted ids can come back via plain upsert
    val back = AnnIndex.upsertSq8(spark, src,
      emb.filter(col("vec_id") < 8))
    assert(hits(AnnIndex.querySq8(queries, back, k = 4, m = 32))
      === hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
    // and an ensure over the original source reuses the re-composed
    // layout (checksum coherence survived delete → fold → re-add)…
    val hEnsure = AnnIndex.ensureSq8(spark, src, emb)
    assert(hEnsure.codes.count() === emb.count())
    // …while a fresh delete followed by ensure REBUILDS (deletions are
    // cleared: ensure means "serve exactly this source")
    AnnIndex.deleteSq8(spark, src, delIds)
    val hClear = AnnIndex.ensureSq8(spark, src, emb)
    assert(hClear.codes.count() === emb.count())
    assert(hits(AnnIndex.querySq8(queries, hClear, k = 4, m = 32))
      === hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
  }

  test("deleteIvfSq8: centroid-co-keyed tombstones serve float-IVF-over-" +
      "survivors; compactIvfSq8 folds them; re-add + ensure stay coherent") {
    val src = s"spec-$runTag-ivfsq8del"
    AnnIndex.ensureIvfSq8(spark, src, emb, lists = 8, iters = 3)
    val delIds = emb.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteIvfSq8(spark, src, delIds)
    // logical delete: rows survive on disk, the served view excludes them
    assert(h.lists.count() === emb.count() - 8)
    assert(h.vecs.count() === emb.count() - 8)
    // reference: the FLOAT IVF over the survivors at the same stored
    // centroids (the q141 closure — composed ≡ float at the certified
    // (nProbe, m), so tombstoned composed ≡ survivor-restricted float)
    val survivors = emb.filter(col("vec_id") >= 8)
    val expected = hits(SimilaritySearch.ivfTopK(queries, survivors,
      h.centroids, k = 4, nProbe = 3))
    assert(hits(AnnIndex.queryIvfSq8(queries, h, k = 4, nProbe = 3,
      m = 16)) === expected)
    // deleting absent or already-deleted ids is a served-set no-op
    val h2 = AnnIndex.deleteIvfSq8(spark, src,
      spark.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.queryIvfSq8(queries, h2, k = 4, nProbe = 3,
      m = 16)) === expected)
    // replayed delete batch (last_del_batch_id) is skipped
    AnnIndex.deleteIvfSq8(spark, src, delIds.limit(1), batchId = Some(7L))
    AnnIndex.deleteIvfSq8(spark, src,
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 12).select("vec_id"),
      batchId = Some(7L))
    assert(hits(AnnIndex.queryIvfSq8(queries,
      AnnIndex.openIvfSq8(spark, src), k = 4, nProbe = 3, m = 16))
      === expected)
    // re-inserting a tombstoned id fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertIvfSq8(spark, src, emb.filter(col("vec_id") === 3),
        lists = 8, iters = 3)
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, identical answers, tombstone dir gone
    val folded = AnnIndex.compactIvfSq8(spark, src)
    assert(folded.lists.count() === emb.count() - 8)
    assert(folded.vecs.count() === emb.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfsq8_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryIvfSq8(queries, folded, k = 4, nProbe = 3,
      m = 16)) === expected)
    // after the fold the deleted ids come back via plain upsert, and the
    // re-composed layout answers like the full in-memory composed path
    val back = AnnIndex.upsertIvfSq8(spark, src,
      emb.filter(col("vec_id") < 8), lists = 8, iters = 3)
    assert(hits(AnnIndex.queryIvfSq8(queries, back, k = 4, nProbe = 3,
      m = 16)) === hits(SimilaritySearch.ivfSq8TopK(queries, emb,
      back.centroids, k = 4, nProbe = 3, m = 16)))
    // checksum coherence survived delete → fold → re-add: ensure over
    // the original source REUSES (meta untouched)…
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfsq8_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    AnnIndex.ensureIvfSq8(spark, src, emb, lists = 8, iters = 3)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1,
      "re-composed layout must satisfy ensure without a rebuild")
    // …while a fresh delete followed by ensure REBUILDS (cleared tombs)
    AnnIndex.deleteIvfSq8(spark, src, delIds)
    val hClear = AnnIndex.ensureIvfSq8(spark, src, emb, lists = 8, iters = 3)
    assert(hClear.lists.count() === emb.count())
  }

  test("deleteIvfPq + compactIvfPq: the PQ serving layout gains the same " +
      "delete/fold/compaction lifecycle; filtered queries stay pre-filter") {
    val src = s"spec-$runTag-ivfpqdel"
    AnnIndex.ensureIvfPq(spark, src, emb, lists = 8, iters = 2)
    val delIds = emb.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteIvfPq(spark, src, delIds)
    assert(h.lists.count() === emb.count() - 8)
    val survivors = emb.filter(col("vec_id") >= 8)
    val expected = hits(SimilaritySearch.ivfTopK(queries, survivors,
      h.centroids, k = 4, nProbe = 3))
    assert(hits(AnnIndex.queryIvfPq(queries, h, k = 4, nProbe = 3,
      m = 128)) === expected)
    // clash guard before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertIvfPq(spark, src, emb.filter(col("vec_id") === 3))
    }
    assert(clash.getMessage.contains("tombstoned"))
    // fold: physical removal, identical answers, fewer files than the
    // freshly-deleted layout would accumulate after appends
    val folded = AnnIndex.compactIvfPq(spark, src)
    assert(folded.lists.count() === emb.count() - 8)
    assert(folded.vecs.count() === emb.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfpq_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryIvfPq(queries, folded, k = 4, nProbe = 3,
      m = 128)) === expected)
    // re-add after the fold: the layout re-composes to the full set and
    // a later ensure reuses it (checksum coherence)
    val back = AnnIndex.upsertIvfPq(spark, src,
      emb.filter(col("vec_id") < 8))
    assert(back.lists.count() === emb.count())
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfpq_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    AnnIndex.ensureIvfPq(spark, src, emb, lists = 8, iters = 2)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1,
      "re-composed layout must satisfy ensure without a rebuild")
  }

  test("compactIvfPq rewrites upserted appends into few files with " +
      "identical answers; the replay guard survives") {
    val src = s"spec-$runTag-ivfpqc"
    val baseRows = emb.filter(col("vec_id") % 10 =!= 3)
    AnnIndex.ensureIvfPq(spark, src, baseRows, lists = 8, iters = 2)
    // several small upsert batches to fragment the partitioned layout
    val tail = emb.filter(col("vec_id") % 10 === 3)
    Seq(0, 1, 2).foreach(i =>
      AnnIndex.upsertIvfPq(spark, src,
        tail.filter(col("vec_id") % 3 === i), batchId = Some(i.toLong)))
    val before = AnnIndex.openIvfPq(spark, src)
    assert(before.lists.count() === emb.count())
    val beforeHits = hits(AnnIndex.queryIvfPq(queries, before, k = 4,
      nProbe = 3, m = 64))
    val beforeFiles = before.lists.inputFiles.length +
      before.vecs.inputFiles.length
    val h = AnnIndex.compactIvfPq(spark, src)
    assert(h.lists.inputFiles.length + h.vecs.inputFiles.length
      < beforeFiles,
      s"no file-count win ($beforeFiles -> ${
        h.lists.inputFiles.length + h.vecs.inputFiles.length})")
    assert(hits(AnnIndex.queryIvfPq(queries, h, k = 4, nProbe = 3,
      m = 64)) === beforeHits)
    // replayed upsert batch id still skipped after compaction
    val n1 = h.lists.count()
    AnnIndex.upsertIvfPq(spark, src,
      tail.select((col("vec_id") + 910000L).as("vec_id"), col("embedding")),
      batchId = Some(2L))
    assert(AnnIndex.openIvfPq(spark, src).lists.count() === n1,
      "replay guard lost by compaction")
  }

  test("queryIvfSq8Filtered / queryIvfPqFiltered: pre-filter semantics — " +
      "top-k within the allowed set, identical to the filtered float IVF") {
    val allEmb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val allowed = allEmb.filter(col("label") % 2 === 0).select("vec_id")
    val allowedRows = allEmb.filter(col("label") % 2 === 0)
      .select("vec_id", "embedding")
    val srcA = s"spec-$runTag-ivfsq8f"
    val hA = AnnIndex.ensureIvfSq8(spark, srcA, emb, lists = 8, iters = 3)
    val expA = hits(SimilaritySearch.ivfTopK(queries, allowedRows,
      hA.centroids, k = 4, nProbe = 3))
    val gotA = AnnIndex.queryIvfSq8Filtered(queries, hA, allowed, k = 4,
      nProbe = 3, m = 16)
    assert(hits(gotA) === expA)
    // every hit inside the filter (pre-filter can't leak)
    assert(gotA.join(allowed, Seq("vec_id"), "left_anti").count() === 0)
    val srcB = s"spec-$runTag-ivfpqf"
    val hB = AnnIndex.ensureIvfPq(spark, srcB, emb, lists = 8, iters = 2)
    val gotB = AnnIndex.queryIvfPqFiltered(queries, hB, allowed, k = 4,
      nProbe = 3, m = 128)
    assert(hits(gotB) === hits(SimilaritySearch.ivfTopK(queries,
      allowedRows, hB.centroids, k = 4, nProbe = 3)))
    assert(gotB.join(allowed, Seq("vec_id"), "left_anti").count() === 0)
  }

  test("listIndexes (Pinecone list_indexes/describe_index_stats " +
      "parity): a fresh ensure appears with its layout, meta row count " +
      "and a real on-disk footprint; an upsert moves the stats") {
    val src = s"spec-$runTag-list"
    val rows1 = emb.filter(col("vec_id") < 150)
    AnnIndex.ensureLsh(spark, src, rows1, tables = 16, bits = 6)
    val name = s"graft_ann_lsh_${IndexStore.pathTag(src)}"
    val before = AnnIndex.listIndexes(spark)
      .filter(col("name") === name).collect()
    assert(before.nonEmpty, "fresh index missing from listIndexes")
    val row = before.head
    assert(row.getAs[String]("layout") === "lsh")
    assert(row.getAs[Long]("n_rows") === 150L)
    assert(row.getAs[Long]("n_files") > 0 && row.getAs[Long]("bytes") > 0)
    AnnIndex.upsertLsh(spark, src,
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 180),
      tables = 16, bits = 6, batchId = Some(1L))
    val after = AnnIndex.listIndexes(spark)
      .filter(col("name") === name).collect().head
    assert(after.getAs[Long]("n_rows") === 180L)
    assert(after.getAs[Long]("last_batch_id") === 1L)
    assert(after.getAs[Long]("bytes") > row.getAs[Long]("bytes"))
    // a healthy layout reports no pending deletions and no poison
    assert(after.getAs[Long]("tomb_rows") === 0L)
    assert(!after.getAs[Boolean]("poisoned"))
  }

  test("listIndexes surfaces the POISONED impact layout (rebuild " +
      "needed) instead of leaving it to the serve-time require; a " +
      "rebuild clears the flag; tombstoned anti-join layouts are " +
      "NOT poisoned") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "gamma delta epsilon"), (4L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val src = s"spec-$runTag-poislist"
    graft.sources.ImpactIndex.ensureImpacts(spark, src, docs)
    val name = s"graft_kwbmw_${IndexStore.pathTag(src)}"
    def row() = AnnIndex.listIndexes(spark)
      .filter(col("name") === name).collect().head
    val healthy = row()
    assert(healthy.getAs[String]("layout") === "impacts")
    assert(!healthy.getAs[Boolean]("poisoned"))
    graft.sources.ImpactIndex.deleteImpacts(spark, src,
      Seq(2L).toDF("doc_id"))
    val poisoned = row()
    assert(poisoned.getAs[Long]("tomb_rows") === 1L)
    assert(poisoned.getAs[Boolean]("poisoned"),
      "a tombstoned impact layout must surface as poisoned")
    // rebuild over the survivors clears the poison
    graft.sources.ImpactIndex.ensureImpacts(spark, src,
      docs.filter(col("doc_id") =!= 2L))
    assert(!row().getAs[Boolean]("poisoned"))
    // contrast: an anti-join-served layout with tombstones keeps
    // serving — tomb_rows > 0, poisoned stays false
    val srcL = s"spec-$runTag-poislsh"
    AnnIndex.ensureLsh(spark, srcL, emb.filter(col("vec_id") < 100),
      tables = 8, bits = 6)
    AnnIndex.deleteLsh(spark, srcL,
      emb.filter(col("vec_id") < 4).select("vec_id"))
    val lshRow = AnnIndex.listIndexes(spark)
      .filter(col("name") ===
        s"graft_ann_lsh_${IndexStore.pathTag(srcL)}").collect().head
    assert(lshRow.getAs[Long]("tomb_rows") > 0L)
    assert(!lshRow.getAs[Boolean]("poisoned"))
  }

  test("deleteLsh tombstones serve exact-kNN-minus-deleted; compactLsh " +
      "folds them; source_paths SURVIVE so the plan rewrite keeps " +
      "serving the survivor view") {
    val src = s"spec-$runTag-lshdel"
    val h0 = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    assert(h0.indexedPaths.nonEmpty, "parquet-built index records paths")
    val delIds = emb.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteLsh(spark, src, delIds)
    // the delete-authoritative contract (Pinecone delete + retriever):
    // the tombstoned index KEEPS its path identity, so the LshAnnPlan
    // rewrite keeps accelerating raw-source kNN — survivors-exact via
    // the handle's anti-join, never degraded to an O(n) exact scan
    assert(h.indexedPaths === h0.indexedPaths,
      "a tombstoned layout lost its source_paths — the plan rewrite " +
        "would silently degrade raw-source kNN to exact O(n) scans")
    assert(h.vecs.count() === emb.count() - 8)
    val survivors = emb.filter(col("vec_id") >= 8)
    val expected = hits(
      SimilaritySearch.bruteForceTopK(queries, survivors, k = 4))
    // 16x6 multi-probe at the recall-1.0 shipped point over survivors
    assert(hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
      === expected)
    // absent/duplicate deletes no-op; replayed delete batch skipped
    val h2 = AnnIndex.deleteLsh(spark, src,
      spark.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.queryLsh(queries, h2, k = 4, probes = 8))
      === expected)
    AnnIndex.deleteLsh(spark, src, delIds.limit(1), batchId = Some(7L))
    AnnIndex.deleteLsh(spark, src,
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
        .select("vec_id"), batchId = Some(7L))
    assert(hits(AnnIndex.queryLsh(queries, AnnIndex.openLsh(spark, src),
      k = 4, probes = 8)) === expected)
    // re-inserting a tombstoned id fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertLsh(spark, src, emb.filter(col("vec_id") === 3),
        tables = 16, bits = 6)
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, tombstone dir gone, identical answers;
    // the serving path identity survives the fold too
    val folded = AnnIndex.compactLsh(spark, src)
    assert(folded.indexedPaths === h0.indexedPaths)
    assert(folded.vecs.count() === emb.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_lsh_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryLsh(queries, folded, k = 4, probes = 8))
      === expected)
    // post-fold re-add via plain upsert restores the full set
    val back = AnnIndex.upsertLsh(spark, src,
      emb.filter(col("vec_id") < 8), tables = 16, bits = 6)
    assert(hits(AnnIndex.queryLsh(queries, back, k = 4, probes = 8))
      === hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
    // a fresh delete followed by ensure REBUILDS (tombFree gate) and
    // restores the source_paths identity for the plan rewrite
    AnnIndex.deleteLsh(spark, src, delIds)
    val hClear = AnnIndex.ensureLsh(spark, src, emb, tables = 16,
      bits = 6)
    assert(hClear.vecs.count() === emb.count())
  }

  test("queryLshFiltered / queryIvfFiltered: pre-filter semantics — " +
      "top-k WITHIN the allowed set, equal to the exact/float path " +
      "over the filtered vectors") {
    val src = s"spec-$runTag-filt"
    val hL = AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val allowed = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
    val expected = hits(SimilaritySearch.bruteForceTopK(queries,
      emb.filter(col("vec_id") % 2 === 0), k = 4))
    assert(hits(AnnIndex.queryLshFiltered(queries, hL, allowed, k = 4,
      probes = 8)) === expected)
    val hI = AnnIndex.ensureIvf(spark, s"$src-ivf", emb, lists = 8,
      iters = 3)
    val ivfExp = hits(SimilaritySearch.ivfTopK(queries,
      emb.filter(col("vec_id") % 2 === 0), hI.centroids, k = 4,
      nProbe = 3))
    assert(hits(AnnIndex.queryIvfFiltered(queries, hI, allowed, k = 4,
      nProbe = 3)) === ivfExp)
  }

  test("orphan tombstones — appended by a crashed delete that never " +
      "committed its meta — are not served, and the next committed " +
      "delete sweeps them") {
    val src = s"spec-$runTag-orphan"
    AnnIndex.ensureLsh(spark, src, emb, tables = 16, bits = 6)
    val base = s"/tmp/graft_ann_lsh_${IndexStore.pathTag(src)}"
    // fake the crash window: tomb files land on disk, meta never
    // records tomb_rows (what a kill between writeTombs and
    // writeMetaFull leaves behind)
    emb.filter(col("vec_id") < 5).select("vec_id")
      .write.mode("overwrite").parquet(s"$base/tombs")
    assert(!AnnIndex.tombsCommitted(base))
    // meta is the commit point: open* must serve the FULL index — the
    // orphan ids were never committed, so anti-joining them would
    // under-serve a source ensure* still judges the layout equal to
    val h = AnnIndex.openLsh(spark, src)
    assert(h.vecs.count() === emb.count())
    assert(hits(AnnIndex.queryLsh(queries, h, k = 4, probes = 8))
      === hits(SimilaritySearch.bruteForceTopK(queries, emb, k = 4)))
    // the next COMMITTED delete sweeps the orphans first: only its own
    // ids are tombstoned (meta and disk agree), ids 0-4 still serve
    AnnIndex.deleteLsh(spark, src,
      emb.filter(col("vec_id") >= 5 && col("vec_id") < 8)
        .select("vec_id"))
    val h2 = AnnIndex.openLsh(spark, src)
    assert(h2.vecs.count() === emb.count() - 3)
    assert(AnnIndex.readMeta(base).get("tomb_rows").contains(3L))
  }

  test("deleteIvf: vec_id tombstones serve float-IVF-over-survivors; " +
      "compactIvf folds them; re-add + ensure stay coherent") {
    val src = s"spec-$runTag-ivfdel"
    AnnIndex.ensureIvf(spark, src, emb, lists = 8, iters = 3)
    val delIds = emb.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteIvf(spark, src, delIds)
    assert(h.lists.count() === emb.count() - 8)
    val survivors = emb.filter(col("vec_id") >= 8)
    val expected = hits(SimilaritySearch.ivfTopK(queries, survivors,
      h.centroids, k = 4, nProbe = 3))
    assert(hits(AnnIndex.queryIvf(queries, h, k = 4, nProbe = 3))
      === expected)
    // absent/duplicate deletes no-op; replayed delete batch skipped
    val h2 = AnnIndex.deleteIvf(spark, src,
      spark.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.queryIvf(queries, h2, k = 4, nProbe = 3))
      === expected)
    AnnIndex.deleteIvf(spark, src, delIds.limit(1), batchId = Some(7L))
    val h3 = AnnIndex.deleteIvf(spark, src,
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
        .select("vec_id"), batchId = Some(7L))
    assert(hits(AnnIndex.queryIvf(queries, h3, k = 4, nProbe = 3))
      === expected)
    // openIvf: the read-only no-freshness reader serves the same
    // tombstoned view (round-11 — the one missing open* verb)
    assert(hits(AnnIndex.queryIvf(queries,
      AnnIndex.openIvf(spark, src), k = 4, nProbe = 3)) === expected)
    // re-inserting a tombstoned id fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertIvf(spark, src, emb.filter(col("vec_id") === 3),
        lists = 8, iters = 3)
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, tombstone dir gone, identical answers
    val folded = AnnIndex.compactIvf(spark, src)
    assert(folded.lists.count() === emb.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivf_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryIvf(queries, folded, k = 4, nProbe = 3))
      === expected)
    // post-fold re-add via plain upsert restores the full set
    val back = AnnIndex.upsertIvf(spark, src,
      emb.filter(col("vec_id") < 8), lists = 8, iters = 3)
    assert(hits(AnnIndex.queryIvf(queries, back, k = 4, nProbe = 3))
      === hits(SimilaritySearch.ivfTopK(queries, emb, back.centroids,
        k = 4, nProbe = 3)))
    // a fresh delete followed by ensure REBUILDS (tombFree gate)
    AnnIndex.deleteIvf(spark, src, delIds)
    val hClear = AnnIndex.ensureIvf(spark, src, emb, lists = 8,
      iters = 3)
    assert(hClear.lists.count() === emb.count())
  }

  // ------------------------------------------------- BQ / IVF-BQ family
  // BQ's deploy contract requires high ambient dimension (the measured
  // 64-dim negative control never reaches identity), so every BQ test
  // runs on the q162 fixture: 64-dim bases tiled 24× with 2·rms
  // md5-jitter → 1536 dims, m = 256 the certified margin. Pinned once —
  // tile_jitter is deterministic but the checkpoint keeps each consumer
  // from re-deriving it.
  private lazy val tiled1536: DataFrame = {
    import graft.functions.expressions.VectorExpressions.tile_jitter
    emb.select(col("vec_id"),
      tile_jitter(col("vec_id"), col("embedding"), reps = 24,
        sigma = 2.0).as("embedding"))
      .localCheckpoint(true)
  }
  private def tQueries: DataFrame =
    tiled1536.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))

  test("persisted BQ serves the exact kNN result, equals the in-memory " +
      "binaryTopK, and reuses the layout") {
    val src = s"spec-$runTag-bq"
    val h = AnnIndex.ensureBq(spark, src, tiled1536)
    val served = hits(AnnIndex.queryBq(tQueries, h, k = 4, m = 256))
    val exact = hits(
      SimilaritySearch.bruteForceTopK(tQueries, tiled1536, k = 4))
    assert(served === exact)
    assert(served === hits(
      SimilaritySearch.binaryTopK(tQueries, tiled1536, k = 4, m = 256)))
    // codes table carries the 1-bit layout: 1536 bits = 192 bytes/row
    assert(h.codes.count() === tiled1536.count())
    assert(h.codes.schema("bcodes").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(h.codes.select(max(length(col("bcodes")))).head.getInt(0)
      === 192)
    // a second ensure over identical content must reuse (no rebuild)
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_bq_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    val h2 = AnnIndex.ensureBq(spark, src, tiled1536)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1,
      "fresh layout must not rebuild")
    assert(hits(AnnIndex.queryBq(tQueries, h2, k = 4, m = 256)) === exact)
    // a content change is detected and rebuilt
    val fewer = tiled1536.filter(col("vec_id") < 300)
    val h3 = AnnIndex.ensureBq(spark, src, fewer)
    assert(h3.codes.count() === fewer.count())
  }

  test("upserted BQ index answers identically to one built on the full " +
      "set; a replayed batchId is skipped") {
    val srcFull = s"spec-$runTag-bqfull"
    val srcInc = s"spec-$runTag-bqinc"
    val full = AnnIndex.ensureBq(spark, srcFull, tiled1536)
    AnnIndex.ensureBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 =!= 7))
    val inc = AnnIndex.upsertBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 === 7), batchId = Some(1L))
    assert(hits(AnnIndex.queryBq(tQueries, inc, k = 4, m = 256)) ===
      hits(AnnIndex.queryBq(tQueries, full, k = 4, m = 256)))
    // replay: same batchId again must not duplicate rows
    val n = inc.codes.count()
    val rep = AnnIndex.upsertBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 === 7), batchId = Some(1L))
    assert(rep.codes.count() === n)
  }

  test("queryBqFiltered: pre-filter semantics — top-k within the " +
      "filtered set, identical to exact kNN over the filtered index") {
    val src = s"spec-$runTag-bqf"
    val withLabel = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val h = AnnIndex.ensureBq(spark, src, tiled1536)
    val allowed = withLabel.filter(col("label") % 2 === 0)
      .select("vec_id")
    val served = hits(AnnIndex.queryBqFiltered(tQueries, h, allowed,
      k = 4, m = 256))
    val exact = hits(SimilaritySearch.bruteForceTopK(tQueries,
      tiled1536.join(allowed, Seq("vec_id"), "left_semi"), k = 4))
    assert(served === exact)
    val allowedIds = allowed.collect().map(_.getLong(0)).toSet
    assert(served.forall(x => allowedIds(x._3)))
    assert(served.groupBy(_._1).forall(_._2.size == 4))
  }

  test("deleteBq tombstones serve exact-kNN-minus-deleted; compactBq " +
      "folds them physically; ensure over the source clears them") {
    val src = s"spec-$runTag-bqdel"
    AnnIndex.ensureBq(spark, src, tiled1536)
    val delIds = tiled1536.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteBq(spark, src, delIds)
    assert(h.codes.count() === tiled1536.count() - 8)
    val survivors = tiled1536.filter(col("vec_id") >= 8)
    val expected = hits(
      SimilaritySearch.bruteForceTopK(tQueries, survivors, k = 4))
    assert(hits(AnnIndex.queryBq(tQueries, h, k = 4, m = 256))
      === expected)
    // deleting absent or already-deleted ids is a served-set no-op
    val h2 = AnnIndex.deleteBq(spark, src,
      spark.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.queryBq(tQueries, h2, k = 4, m = 256))
      === expected)
    // replayed delete batch (last_del_batch_id) is skipped
    AnnIndex.deleteBq(spark, src, delIds.limit(1), batchId = Some(7L))
    AnnIndex.deleteBq(spark, src,
      tiled1536.filter(col("vec_id") >= 8 && col("vec_id") < 12)
        .select("vec_id"),
      batchId = Some(7L))
    assert(hits(AnnIndex.queryBq(tQueries, AnnIndex.openBq(spark, src),
      k = 4, m = 256)) === expected)
    // re-inserting a tombstoned id fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertBq(spark, src,
        tiled1536.filter(col("vec_id") === 3))
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, identical answers, tombstone dir gone
    val folded = AnnIndex.compactBq(spark, src)
    assert(folded.codes.count() === tiled1536.count() - 8)
    assert(folded.vecs.count() === tiled1536.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_bq_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryBq(tQueries, folded, k = 4, m = 256))
      === expected)
    // after the fold the deleted ids come back via plain upsert
    val back = AnnIndex.upsertBq(spark, src,
      tiled1536.filter(col("vec_id") < 8))
    assert(hits(AnnIndex.queryBq(tQueries, back, k = 4, m = 256))
      === hits(SimilaritySearch.bruteForceTopK(tQueries, tiled1536,
        k = 4)))
    // checksum coherence survived delete → fold → re-add: ensure over
    // the original source reuses…
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_bq_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    AnnIndex.ensureBq(spark, src, tiled1536)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1,
      "re-composed layout must satisfy ensure without a rebuild")
    // …while a fresh delete followed by ensure REBUILDS (cleared tombs)
    AnnIndex.deleteBq(spark, src, delIds)
    val hClear = AnnIndex.ensureBq(spark, src, tiled1536)
    assert(hClear.codes.count() === tiled1536.count())
  }

  test("compactBq rewrites upserted appends into few files per table " +
      "with identical answers and untouched meta") {
    val src = s"spec-$runTag-bqk"
    AnnIndex.ensureBq(spark, src,
      tiled1536.filter(col("vec_id") % 10 =!= 7))
    for (b <- 0 until 3)
      AnnIndex.upsertBq(spark, src,
        tiled1536.filter(col("vec_id") % 30 === (7 + 10 * b)),
        batchId = Some(b + 1L))
    val base = s"/tmp/graft_ann_bq_${IndexStore.pathTag(src)}"
    def files(sub: String): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(base, sub))
      try it.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    val before = hits(AnnIndex.queryBq(tQueries,
      AnnIndex.openBq(spark, src), k = 4, m = 256))
    val filesBefore = files("codes")
    val meta1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "_ann_meta.json"))
    val compacted = AnnIndex.compactBq(spark, src)
    assert(files("codes") < filesBefore)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(base, "_ann_meta.json")) === meta1,
      "compaction must not touch the meta")
    assert(hits(AnnIndex.queryBq(tQueries, compacted, k = 4, m = 256))
      === before)
  }

  test("persisted IVF-BQ equals the in-memory composed path AND the " +
      "float IVF at the stored centroids; upsert stays converged") {
    val src = s"spec-$runTag-ivfbq"
    val h = AnnIndex.ensureIvfBq(spark, src, tiled1536, lists = 8,
      iters = 3)
    val served = hits(AnnIndex.queryIvfBq(tQueries, h, k = 4,
      nProbe = 4, m = 256))
    // identity to the float IVF at the SAME stored centroids (q168's
    // closure: the 1-bit layer is output-lossless at the certified m)
    assert(served === hits(SimilaritySearch.ivfTopK(tQueries, tiled1536,
      h.centroids, k = 4, nProbe = 4)))
    // identity to the in-memory composed path at the same centroids
    assert(served === hits(SimilaritySearch.ivfBqTopK(tQueries,
      tiled1536, h.centroids, k = 4, nProbe = 4, m = 256)))
    // upsert: assign-to-stored-centroids appends stay converged
    val srcInc = s"spec-$runTag-ivfbqinc"
    AnnIndex.ensureIvfBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 =!= 7), lists = 8, iters = 3)
    val inc = AnnIndex.upsertIvfBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 === 7), lists = 8, iters = 3,
      batchId = Some(1L))
    assert(hits(AnnIndex.queryIvfBq(tQueries, inc, k = 4, nProbe = 4,
      m = 256)) === hits(SimilaritySearch.ivfBqTopK(tQueries, tiled1536,
      inc.centroids, k = 4, nProbe = 4, m = 256)))
    // replayed upsert batch is skipped
    val n = inc.lists.count()
    val rep = AnnIndex.upsertIvfBq(spark, srcInc,
      tiled1536.filter(col("vec_id") % 10 === 7), lists = 8, iters = 3,
      batchId = Some(1L))
    assert(rep.lists.count() === n)
  }

  test("deleteIvfBq: centroid-co-keyed tombstones serve float-IVF-over-" +
      "survivors; compactIvfBq folds them; re-add + ensure stay coherent") {
    val src = s"spec-$runTag-ivfbqdel"
    AnnIndex.ensureIvfBq(spark, src, tiled1536, lists = 8, iters = 3)
    val delIds = tiled1536.filter(col("vec_id") < 8).select("vec_id")
    val h = AnnIndex.deleteIvfBq(spark, src, delIds)
    assert(h.lists.count() === tiled1536.count() - 8)
    assert(h.vecs.count() === tiled1536.count() - 8)
    val survivors = tiled1536.filter(col("vec_id") >= 8)
    val expected = hits(SimilaritySearch.ivfTopK(tQueries, survivors,
      h.centroids, k = 4, nProbe = 4))
    assert(hits(AnnIndex.queryIvfBq(tQueries, h, k = 4, nProbe = 4,
      m = 256)) === expected)
    // absent/duplicate deletes are a served-set no-op; replay skipped
    val h2 = AnnIndex.deleteIvfBq(spark, src,
      spark.range(1000000, 1000004).toDF("vec_id")
        .unionByName(delIds.limit(2)))
    assert(hits(AnnIndex.queryIvfBq(tQueries, h2, k = 4, nProbe = 4,
      m = 256)) === expected)
    AnnIndex.deleteIvfBq(spark, src, delIds.limit(1), batchId = Some(7L))
    AnnIndex.deleteIvfBq(spark, src,
      tiled1536.filter(col("vec_id") >= 8 && col("vec_id") < 12)
        .select("vec_id"),
      batchId = Some(7L))
    assert(hits(AnnIndex.queryIvfBq(tQueries,
      AnnIndex.openIvfBq(spark, src), k = 4, nProbe = 4, m = 256))
      === expected)
    // tombstoned re-insert refused before the fold
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.upsertIvfBq(spark, src,
        tiled1536.filter(col("vec_id") === 3), lists = 8, iters = 3)
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal, identical answers, tombstone dir gone
    val folded = AnnIndex.compactIvfBq(spark, src)
    assert(folded.lists.count() === tiled1536.count() - 8)
    assert(folded.vecs.count() === tiled1536.count() - 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfbq_${IndexStore.pathTag(src)}", "tombs")))
    assert(hits(AnnIndex.queryIvfBq(tQueries, folded, k = 4, nProbe = 4,
      m = 256)) === expected)
    // re-add after the fold; ensure over the source reuses
    val back = AnnIndex.upsertIvfBq(spark, src,
      tiled1536.filter(col("vec_id") < 8), lists = 8, iters = 3)
    assert(hits(AnnIndex.queryIvfBq(tQueries, back, k = 4, nProbe = 4,
      m = 256)) === hits(SimilaritySearch.ivfBqTopK(tQueries, tiled1536,
      back.centroids, k = 4, nProbe = 4, m = 256)))
    val metaP = java.nio.file.Paths.get(
      s"/tmp/graft_ann_ivfbq_${IndexStore.pathTag(src)}", "_ann_meta.json")
    val t1 = java.nio.file.Files.getLastModifiedTime(metaP)
    AnnIndex.ensureIvfBq(spark, src, tiled1536, lists = 8, iters = 3)
    assert(java.nio.file.Files.getLastModifiedTime(metaP) === t1,
      "re-composed layout must satisfy ensure without a rebuild")
    AnnIndex.deleteIvfBq(spark, src, delIds)
    val hClear = AnnIndex.ensureIvfBq(spark, src, tiled1536, lists = 8,
      iters = 3)
    assert(hClear.lists.count() === tiled1536.count())
  }

  test("listIndexes surfaces impact-layout STALENESS vs its postings " +
      "twin (the rebuild-only contract, round 15): an upserted " +
      "postings twin marks the banded layout stale with zero data " +
      "scans; the re-band clears it; layouts without a twin never " +
      "read stale") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "gamma delta epsilon"), (4L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val src = s"spec-$runTag-stale"
    graft.sources.KeywordIndex.ensurePostings(spark, src, docs)
    graft.sources.ImpactIndex.ensureImpacts(spark, src, docs)
    val name = s"graft_kwbmw_${IndexStore.pathTag(src)}"
    def row() = AnnIndex.listIndexes(spark)
      .filter(col("name") === name).collect().head
    assert(!row().getAs[Boolean]("stale"),
      "twin fingerprints match at build — the banded layout is fresh")
    // the streaming surface moves on: postings upsert in O(batch)
    val tail = Seq((5L, "zeta eta theta")).toDF("doc_id", "text")
    graft.sources.KeywordIndex.upsertPostings(spark, src, tail,
      batchId = Some(1L))
    val stale = row()
    assert(stale.getAs[Boolean]("stale"),
      "an upserted postings twin must mark the rebuild-only impact " +
        "layout stale at the control plane")
    // stale ≠ poisoned: the layout still serves (exact for the corpus
    // it was built over)
    assert(!stale.getAs[Boolean]("poisoned"))
    // the scheduled re-band over the grown source clears it
    graft.sources.ImpactIndex.ensureImpacts(spark, src,
      docs.unionByName(tail))
    assert(!row().getAs[Boolean]("stale"),
      "re-banding over the grown corpus must clear the stale flag")
    // a postings-less impact layout (no twin) never reads stale, and
    // non-impact layouts report false
    val lone = s"spec-$runTag-stalelone"
    graft.sources.ImpactIndex.ensureImpacts(spark, lone, docs)
    val flags = AnnIndex.listIndexes(spark)
      .filter(col("name") ===
        s"graft_kwbmw_${IndexStore.pathTag(lone)}" ||
        col("layout") =!= "impacts")
      .select("stale").collect().map(_.getBoolean(0))
    assert(flags.forall(_ == false),
      "stale must only fire on an impacts layout whose twin diverged")
  }

  test("layout writes land one file per bucket and one file per list: " +
      "ensure/upsert of SQ8 and IVF-PQ over a 4-partition input") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // data files per directory under `dir` (a bucketed table is one
    // directory; a list layout has one directory per centroid_id)
    def filesByDir(dir: String): Map[String, Int] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .toSeq.groupBy((p: Path) => p.getParent.toString)
        .map { case (d, fs) => d -> fs.size }
      finally walk.close()
    }
    def added(before: Map[String, Int], after: Map[String, Int]) =
      after.map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
        .filter(_._2 > 0)
    val buckets = 8
    val base = emb.filter(col("vec_id") % 10 =!= 7).repartition(4)
    val tail = emb.filter(col("vec_id") % 10 === 7).repartition(4)
    assert(base.rdd.getNumPartitions === 4 && tail.rdd.getNumPartitions === 4)
    val sq8 = s"/tmp/graft_ann_sq8_${IndexStore.pathTag(s"spec-$runTag-files")}"
    AnnIndex.ensureSq8(spark, s"spec-$runTag-files", base,
      storageBuckets = buckets)
    val sq8Built = Seq("codes", "vecs").map(t => filesByDir(s"$sq8/$t"))
    sq8Built.foreach(f => assert(f.values.sum <= buckets, f))
    AnnIndex.upsertSq8(spark, s"spec-$runTag-files", tail,
      storageBuckets = buckets)
    Seq("codes", "vecs").zip(sq8Built).foreach { case (t, before) =>
      val add = added(before, filesByDir(s"$sq8/$t"))
      assert(add.values.sum <= buckets, s"$t upsert added $add")
    }
    val pq = s"/tmp/graft_ann_ivfpq_${IndexStore.pathTag(s"spec-$runTag-filespq")}"
    AnnIndex.ensureIvfPq(spark, s"spec-$runTag-filespq", base, lists = 8,
      iters = 2, numSub = 16, ksub = 16, pqIters = 2,
      storageBuckets = buckets)
    val lists = filesByDir(s"$pq/lists")
    assert(lists.nonEmpty && lists.values.forall(_ == 1),
      s"a list dir holds more than one file: $lists")
    val vecs = filesByDir(s"$pq/vecs")
    assert(vecs.values.sum <= buckets, vecs)
    AnnIndex.upsertIvfPq(spark, s"spec-$runTag-filespq", tail)
    val listsAdd = added(lists, filesByDir(s"$pq/lists"))
    assert(listsAdd.nonEmpty && listsAdd.values.forall(_ == 1),
      s"an upsert added more than one file to a list: $listsAdd")
    assert(added(vecs, filesByDir(s"$pq/vecs")).values.sum <= buckets)
  }

  /** One layout of the meta-format pins: its meta keys beside n_rows
    * and checksum after a build over `nb` base rows (`built`) and those
    * its upsert adds (`upserted`), its string meta over the given
    * source paths, and its verbs over (source key, rows).
    */
  private case class MetaLayout(stem: String, built: Long => Map[String, Long],
      upserted: Map[String, Long], paths: String => Map[String, String],
      ensure: (String, DataFrame) => Any, upsert: (String, DataFrame) => Any,
      delete: (String, DataFrame) => Any, compact: String => Any)

  /** Pin the exact numeric and string meta maps each layout leaves after
    * ensure (snapshot id "v1") over the base rows, upsert of the tail,
    * delete (batch 3) of three live ids and one never indexed, and
    * compact.
    */
  private def pinMetaFormat(name: String, layouts: Seq[MetaLayout]): Unit = {
    import spark.implicits._
    val dir = s"/tmp/graft_spec_meta_${runTag}_$name"
    emb.filter(col("vec_id") % 5 =!= 0).write.parquet(s"$dir/base")
    emb.filter(col("vec_id") % 5 === 0).write.parquet(s"$dir/tail")
    val base = spark.read.parquet(s"$dir/base")
    val tail = spark.read.parquet(s"$dir/tail")
    val gone = Seq(1L, 2L, 5L, 987654321L) // one id was never indexed
    val (nb, fb) = AnnIndex.fingerprint(base)
    val (nt, ft) = AnnIndex.fingerprint(tail)
    val (ns, fs) = AnnIndex.fingerprint(
      base.union(tail).filter(!col("vec_id").isin(gone: _*)))
    val both = s"$dir/base;$dir/tail"
    layouts.foreach { l =>
      val src = s"spec-$runTag-meta-${l.stem}"
      val at = s"/tmp/graft_ann_${l.stem}_${IndexStore.pathTag(src)}"
      def pin(verb: String, num: Map[String, Long],
          str: Map[String, String]): Unit = {
        assert(AnnIndex.readMeta(at) === num, s"${l.stem} $verb")
        assert(AnnIndex.readMetaStrs(at) === str, s"${l.stem} $verb")
      }
      val kept = l.built(nb) ++ l.upserted
      l.ensure(src, base)
      pin("ensure", l.built(nb) ++ Map("n_rows" -> nb, "checksum" -> fb),
        l.paths(s"$dir/base") ++ Map("snapshot_id" -> "v1"))
      l.upsert(src, tail)
      val upserted = kept ++ Map("n_rows" -> (nb + nt),
        "checksum" -> (fb ^ ft))
      pin("upsert", upserted, l.paths(both))
      // 987654321 was never indexed: three live rows are deleted
      l.delete(src, gone.toDF("vec_id"))
      pin("delete", upserted ++ Map("tomb_rows" -> 3L,
        "last_del_batch_id" -> 3L), l.paths(both))
      l.compact(src)
      pin("compact", kept ++ Map("n_rows" -> ns, "checksum" -> fs,
        "last_del_batch_id" -> 3L), l.paths(both))
    }
  }

  // the on-disk meta is the format every later session reads back: each
  // lifecycle verb must leave exactly these key→value maps behind
  test("flat-layout meta format across ensure(snapshotId) → " +
      "upsert(batchId) → delete(batchId) → compact: LSH and SQ8") {
    val lsh = Map("tables" -> 16L, "bits" -> 6L, "buckets" -> 4L)
    pinMetaFormat("flat", Seq(
      MetaLayout("lsh", _ => lsh, Map("last_batch_id" -> 7L),
        p => Map("source_paths" -> p),
        (src, rows) => AnnIndex.ensureLsh(spark, src, rows, tables = 16,
          bits = 6, storageBuckets = 4, snapshotId = Some("v1")),
        (src, rows) => AnnIndex.upsertLsh(spark, src, rows, tables = 16,
          bits = 6, storageBuckets = 4, batchId = Some(7L)),
        (src, ids) => AnnIndex.deleteLsh(spark, src, ids,
          batchId = Some(3L)),
        src => AnnIndex.compactLsh(spark, src)),
      MetaLayout("sq8", _ => Map("buckets" -> 4L),
        Map("last_batch_id" -> 7L), _ => Map.empty,
        (src, rows) => AnnIndex.ensureSq8(spark, src, rows,
          storageBuckets = 4, snapshotId = Some("v1")),
        (src, rows) => AnnIndex.upsertSq8(spark, src, rows,
          storageBuckets = 4, batchId = Some(7L)),
        (src, ids) => AnnIndex.deleteSq8(spark, src, ids,
          batchId = Some(3L)),
        src => AnnIndex.compactSq8(spark, src))))
  }

  // float IVF keeps its own format: no buckets, the trained base n_base
  // kept through upsert and fold, no upsert replay window
  test("float-IVF meta format across ensure(snapshotId) → upsert → " +
      "delete(batchId) → compact") {
    pinMetaFormat("ivf", Seq(
      MetaLayout("ivf",
        nb => Map("lists" -> 4L, "iters" -> 2L, "n_base" -> nb), Map.empty,
        _ => Map.empty,
        (src, rows) => AnnIndex.ensureIvf(spark, src, rows, lists = 4,
          iters = 2, snapshotId = Some("v1")),
        (src, rows) => AnnIndex.upsertIvf(spark, src, rows, lists = 4,
          iters = 2),
        (src, ids) => AnnIndex.deleteIvf(spark, src, ids,
          batchId = Some(3L)),
        src => AnnIndex.compactIvf(spark, src))))
  }

  // flat PQ and OPQ have no upsert, delete or compact verb: their meta
  // format is pinned across the ensures alone — a fresh ensure under a
  // new snapshot id records the id, a rebuild at a new point drops it
  Seq[(String, (String, Int, Int, Option[String]) => Any)](
    ("pq", (src, numSub, sb, snap) => AnnIndex.ensurePq(spark, src, emb,
      numSub = numSub, ksub = 16, storageBuckets = sb, snapshotId = snap)),
    ("opq", (src, numSub, sb, snap) => AnnIndex.ensureOpq(spark, src, emb,
      numSub = numSub, ksub = 16, storageBuckets = sb, snapshotId = snap))
  ).foreach { case (stem, ensure) =>
    test(s"$stem meta format across ensure(snapshotId) → ensure(same " +
        "content, new snapshot id) → ensure at a new point") {
      val src = s"spec-$runTag-meta-$stem"
      val at = s"/tmp/graft_ann_${stem}_${IndexStore.pathTag(src)}"
      val (n, fp) = AnnIndex.fingerprint(emb)
      def pin(verb: String, num: Map[String, Long],
          str: Map[String, String]): Unit = {
        assert(AnnIndex.readMeta(at) === num, s"$stem $verb")
        assert(AnnIndex.readMetaStrs(at) === str, s"$stem $verb")
      }
      def point(numSub: Long, sb: Long) = Map("buckets" -> sb,
        "num_sub" -> numSub, "ksub" -> 16L, "iters" -> 2L, "n_rows" -> n,
        "checksum" -> fp)
      ensure(src, 16, 4, Some("v1"))
      pin("ensure", point(16, 4), Map("snapshot_id" -> "v1"))
      ensure(src, 16, 4, Some("v2"))
      pin("ensure-fresh", point(16, 4), Map("snapshot_id" -> "v2"))
      ensure(src, 8, 2, None)
      pin("ensure-rebuild", point(8, 2), Map.empty)
    }
  }

  /** Run `body`, cancelling every Spark job it starts once `dir` holds a
    * `.parquet` file it did not hold before: a build interrupted right
    * after it replaced that dir. `body` must fail.
    */
  private def interruptedAfterReplacing(dir: String)(body: => Any): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    def files: Set[String] = {
      val d = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(d)) Set.empty
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator.asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
        finally s.close()
      }
    }
    val before = files
    val sc = spark.sparkContext
    val mark = java.util.UUID.randomUUID.toString
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.torn") ==
            mark) && (files -- before).nonEmpty) sc.cancelJob(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.torn", mark)
    try intercept[Exception](body)
    finally {
      sc.setLocalProperty("graft.torn", null)
      sc.removeSparkListener(listener)
    }
  }

  // a rebuild interrupted right after it replaced a model dir: until the
  // rebuild commits, the stored meta must not name the content it held
  // before, or an ensure over that earlier source reuses the new model
  // over the old data — and open must refuse the torn layout
  Seq[(String, String, String, (String, DataFrame) => Any, String => Any)](
    ("IVF", "ivf", "centroids",
      (src, rows) => AnnIndex.ensureIvf(spark, src, rows, lists = 8,
        iters = 2),
      src => AnnIndex.openIvf(spark, src)),
    ("IVF-SQ8", "ivfsq8", "centroids",
      (src, rows) => AnnIndex.ensureIvfSq8(spark, src, rows, lists = 8,
        iters = 2),
      src => AnnIndex.openIvfSq8(spark, src)),
    ("IVF-BQ", "ivfbq", "centroids",
      (src, rows) => AnnIndex.ensureIvfBq(spark, src, rows, lists = 8,
        iters = 2),
      src => AnnIndex.openIvfBq(spark, src)),
    ("IVF-PQ", "ivfpq", "codebook",
      (src, rows) => AnnIndex.ensureIvfPq(spark, src, rows, lists = 8,
        iters = 2, ksub = 16),
      src => AnnIndex.openIvfPq(spark, src)),
    ("PQ", "pq", "codebook",
      (src, rows) => AnnIndex.ensurePq(spark, src, rows, ksub = 16),
      src => AnnIndex.openPq(spark, src)),
    ("OPQ", "opq", "rotation",
      (src, rows) => AnnIndex.ensureOpq(spark, src, rows, ksub = 16),
      src => AnnIndex.openOpq(spark, src)),
    ("OPQ∘IVF-PQ", "opqivfpq", "rotation",
      (src, rows) => AnnIndex.ensureOpqIvfPq(spark, src, rows, lists = 8,
        iters = 2, ksub = 16),
      src => AnnIndex.openOpqIvfPq(spark, src))
  ).foreach { case (label, stem, model, ensure, open) =>
    test(s"$label: a rebuild interrupted after it replaced `$model` is " +
        "not reused as fresh by an ensure over the earlier source, and " +
        "open refuses it") {
      val src = s"spec-$runTag-torn-$stem"
      val dir = s"/tmp/graft_ann_${stem}_${IndexStore.pathTag(src)}/$model"
      def stored = spark.read.parquet(dir).collect().map(_.toString)
        .sorted.toSeq
      ensure(src, emb)
      val trained = stored
      interruptedAfterReplacing(dir)(
        ensure(src, emb.filter(col("vec_id") % 2 === 0)))
      val torn = scala.util.Try(open(src))
      ensure(src, emb)
      assert(stored === trained,
        s"the $model of the interrupted rebuild was reused")
      assert(torn.failed.toOption.exists(
        _.isInstanceOf[IllegalArgumentException]), torn)
    }
  }
}
