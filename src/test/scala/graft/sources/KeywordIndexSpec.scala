package graft.sources

import graft.{Tables, TestSpark}
import graft.operators.KeywordSearch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted BM25 postings lifecycle: build / reuse / attach / exact
  * incremental upsert / streaming ingest. Every assertion is an
  * EQUALITY against the direct (unpersisted) BM25 path — the lexical
  * index has no approximation anywhere, so there are no recall floors
  * here at all.
  */
class KeywordIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text")

  private def queries: DataFrame =
    graft.queries.PipelineQueries.retrievalQueryDf(spark)

  private def hits(df: DataFrame): Set[(Long, Int, Long, Double)] =
    df.select("query_id", "rank", "doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  /** Stored stats as values: N, Σ dl and the per-term Σ df (terms whose
    * every document was deleted sum to 0 and a rebuild has no row for
    * them, so zero sums are dropped).
    */
  private def summary(st: KeywordSearch.Bm25Stats)
      : (Long, Long, Map[String, Long]) =
    (st.nDocs, st.sumDl, st.dfs.groupBy("term").agg(sum("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).filter(_._2 != 0L).toMap)

  test("persisted postings answer row-identically to the direct path, " +
      "and a second ensure reuses without rebuilding") {
    val src = s"kwspec-$runTag-a"
    val direct = hits(KeywordSearch.bm25TopK(queries, docs, k = 5))
    val post1 = KeywordIndex.ensurePostings(spark, src, docs)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post1, k = 5))
      === direct)
    // reuse: same content fingerprint — the stored table is served again
    val post2 = KeywordIndex.ensurePostings(spark, src, docs)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post2, k = 5))
      === direct)
  }

  test("dropping the catalog registration re-attaches via DDL (the " +
      "cross-process path), and openPostings needs no freshness scan") {
    val src = s"kwspec-$runTag-b"
    KeywordIndex.ensurePostings(spark, src, docs)
    val tag = IndexStore.pathTag(src)
    spark.sql(s"DROP TABLE graft_kw_postings_$tag")
    val reopened = KeywordIndex.openPostings(spark, src)
    assert(reopened.count() ===
      KeywordSearch.bm25Postings(docs).count())
  }

  test("openPostings without a prior ensure fails loudly") {
    intercept[IllegalArgumentException] {
      KeywordIndex.openPostings(spark, s"kwspec-$runTag-missing")
    }
  }

  test("a content change at the same row count triggers a rebuild") {
    val src = s"kwspec-$runTag-c"
    KeywordIndex.ensurePostings(spark, src, docs.limit(50))
    val changed = docs.limit(50)
      .withColumn("text", concat(col("text"), lit(" zzzmarker")))
    val post = KeywordIndex.ensurePostings(spark, src, changed)
    assert(post.filter(col("term") === "zzzmarker").count() === 50)
  }

  test("upserted postings equal a full rebuild EXACTLY (row-identical, " +
      "not recall-bounded)") {
    val src = s"kwspec-$runTag-d"
    val post = KeywordIndex.ensurePostingsUpserted(spark, src,
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7))
    val full = KeywordSearch.bm25Postings(docs)
    assert(post.exceptAll(full).isEmpty && full.exceptAll(post).isEmpty,
      "merged postings must be row-identical to the full build")
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post, k = 5))
      === hits(KeywordSearch.bm25TopK(queries, docs, k = 5)))
  }

  test("stored corpus stats (meta + df side table) serve bit-identically " +
      "to the derived path across build, upsert, tombstone, and fold") {
    val src = s"kwspec-$runTag-s"
    val direct = hits(KeywordSearch.bm25TopK(queries, docs, k = 5))
    val post = KeywordIndex.ensurePostings(spark, src, docs)
    val st = KeywordIndex.statsFor(spark, src)
    assert(st.isDefined, "freshly built layout must carry stats")
    assert(st.get.nDocs === docs.count())
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post, k = 5,
      stats = st)) === direct)
    // upsert: meta sum + appended df deltas compose to the rebuild's
    val src2 = s"kwspec-$runTag-s2"
    KeywordIndex.ensurePostings(spark, src2,
      docs.filter(col("doc_id") % 10 =!= 7))
    val post2 = KeywordIndex.upsertPostings(spark, src2,
      docs.filter(col("doc_id") % 10 === 7))
    val st2 = KeywordIndex.statsFor(spark, src2)
    assert(st2.isDefined)
    assert(st2.get.nDocs === st.get.nDocs)
    assert(st2.get.sumDl === st.get.sumDl)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post2, k = 5,
      stats = st2)) === direct)
    // a tombstoned layout keeps serving stats: the delete subtracted
    // the victims, so they are the survivors' stats exactly
    val victims = KeywordSearch.bm25TopK(queries, docs, k = 1)
      .select("doc_id").distinct().limit(2).localCheckpoint(true)
    val tombed = KeywordIndex.deletePostings(spark, src2, victims)
    val survivors = docs.join(victims, Seq("doc_id"), "left_anti")
    val survivorHits = hits(KeywordSearch.bm25TopK(queries, survivors,
      k = 5))
    val stDel = KeywordIndex.statsFor(spark, src2)
    assert(stDel.isDefined, "tombstoned layout must keep serving stats")
    assert(stDel.get.nDocs === survivors.count())
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, tombed, k = 5,
      stats = stDel)) === survivorHits)
    val delSummary = summary(stDel.get)
    // the fold recounts survivor stats and keeps them admitted
    val folded = KeywordIndex.compactPostings(spark, src2)
    val st3 = KeywordIndex.statsFor(spark, src2)
    assert(st3.isDefined)
    assert(summary(st3.get) === delSummary)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, folded, k = 5,
      stats = st3)) === survivorHits)
  }

  test("deletePostings keeps the stored stats exact: a batch with an " +
      "already-deleted id, an absent id and a token-less document leaves " +
      "stats equal to a rebuild over the survivors; upsert and fold after " +
      "the delete, and a crash inside it, keep the answers exact") {
    import spark.implicits._
    val src = s"kwspec-$runTag-ds"
    val blank = 999997L
    val corpus = docs.unionByName(Seq((blank, "!!! ---")).toDF("doc_id",
      "text"))
    KeywordIndex.ensurePostings(spark, src, corpus)
    val ranked = KeywordSearch.bm25TopK(queries, docs, k = 3)
      .select("doc_id").distinct().collect().map(_.getLong(0)).sorted
    assert(ranked.length >= 7, ranked.toSeq)
    val (first, second) = (ranked.take(2).toSeq, ranked.slice(2, 4).toSeq)
    KeywordIndex.deletePostings(spark, src, first.toDF("doc_id"))
    KeywordIndex.deletePostings(spark, src,
      (second :+ first.head :+ 123456789L :+ blank).toDF("doc_id"))
    def without(ids: Seq[Long]) = corpus.join(ids.toDF("doc_id"),
      Seq("doc_id"), "left_anti")
    // the stored stats equal a fresh build's over the survivors, and
    // serve the same answers as the direct path over them
    def assertExact(live: DataFrame, tag: String): Unit = {
      val st = KeywordIndex.statsFor(spark, src)
      assert(st.isDefined, s"$tag: stats must stay admitted")
      val ref = s"$src-$tag-ref"
      KeywordIndex.ensurePostings(spark, ref, live)
      assert(summary(st.get) ===
        summary(KeywordIndex.statsFor(spark, ref).get), tag)
      assert(hits(KeywordSearch.bm25TopKFromPostings(queries,
        KeywordIndex.openPostings(spark, src), k = 5, stats = st)) ===
        hits(KeywordSearch.bm25TopK(queries, live, k = 5)), tag)
    }
    val gone = first ++ second :+ blank
    assertExact(without(gone), "delete")
    // upsert after the delete adds to the maintained stats
    val fresh = Seq((990101L, "quartz zebra " + "lorem " * 3),
      (990102L, "zebra delta")).toDF("doc_id", "text")
    KeywordIndex.upsertPostings(spark, src, fresh)
    assertExact(without(gone).unionByName(fresh), "upsert")
    // crash window: a delete whose tombs and df deltas landed but whose
    // final meta commit did not (the meta it left: stats invalidated,
    // tomb count not yet raised) serves via the derived path, exactly
    val base = s"/tmp/graft_kw_${IndexStore.pathTag(src)}"
    val before = AnnIndex.readMeta(base)
    val third = ranked.slice(4, 6).toSeq
    KeywordIndex.deletePostings(spark, src, third.toDF("doc_id"))
    AnnIndex.writeMetaFull(base, (before - "sum_dl" - "n_docs_stat").toSeq,
      Nil)
    val live = without(gone ++ third).unionByName(fresh)
    assert(KeywordIndex.statsFor(spark, src).isEmpty,
      "a crashed delete must not serve stats")
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries,
      KeywordIndex.openPostings(spark, src), k = 5,
      stats = KeywordIndex.statsFor(spark, src))) ===
      hits(KeywordSearch.bm25TopK(queries, live, k = 5)))
    // fold after the delete re-derives and re-admits them
    KeywordIndex.compactPostings(spark, src)
    assertExact(live, "fold")
    // a tombstoned layout whose delete did not subtract the victims
    // (stats left as they were, no stats_tomb_rows) refuses its stats
    KeywordIndex.deletePostings(spark, src, ranked.slice(6, 7).toSeq
      .toDF("doc_id"))
    AnnIndex.writeMetaFull(base,
      (AnnIndex.readMeta(base) - "stats_tomb_rows").toSeq, Nil)
    assert(KeywordIndex.statsFor(spark, src).isEmpty)
  }

  test("stored stats N counts docs WITH tokens: a token-less document " +
      "does not inflate BM25's N (stats path == derived path exactly)") {
    import spark.implicits._
    val src = s"kwspec-$runTag-s3"
    // a doc that tokenizes to nothing must not count toward N
    val weird = docs.unionByName(
      Seq((999999L, "!!! ??? ***")).toDF("doc_id", "text"))
    val direct = hits(KeywordSearch.bm25TopK(queries, weird, k = 5))
    val post = KeywordIndex.ensurePostings(spark, src, weird)
    val st = KeywordIndex.statsFor(spark, src)
    assert(st.isDefined)
    assert(st.get.nDocs === docs.count(),
      "N must be the postings doc count, not the source cardinality")
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post, k = 5,
      stats = st)) === direct)
    // an upserted token-less doc keeps the invariant
    val post2 = KeywordIndex.upsertPostings(spark, src,
      Seq((999998L, "...")).toDF("doc_id", "text"), batchId = Some(1L))
    val st2 = KeywordIndex.statsFor(spark, src)
    assert(st2.get.nDocs === docs.count())
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post2, k = 5,
      stats = st2)) === direct)
  }

  test("upsertPostings with a batchId skips a replayed batch") {
    val src = s"kwspec-$runTag-e"
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    val tail = docs.filter(col("doc_id") % 10 === 7)
    KeywordIndex.ensurePostings(spark, src, base)
    val n1 = KeywordIndex
      .upsertPostings(spark, src, tail, batchId = Some(0L)).count()
    val n2 = KeywordIndex
      .upsertPostings(spark, src, tail, batchId = Some(0L)).count()
    assert(n2 === n1, "replayed batch must be skipped")
  }

  test("compactPostings rewrites the streamed layout into few files " +
      "with identical content and an untouched freshness contract") {
    val src = s"kwspec-$runTag-g"
    val base = docs.filter(col("doc_id") % 10 =!= 7)
    KeywordIndex.ensurePostings(spark, src, base)
    // three appends -> three extra file sets
    docs.filter(col("doc_id") % 10 === 7).collect()
      .grouped(20).zipWithIndex.foreach { case (chunk, i) =>
        import spark.implicits._
        KeywordIndex.upsertPostings(spark, src,
          chunk.map(r => (r.getLong(0), r.getString(1))).toSeq
            .toDF("doc_id", "text"), batchId = Some(i.toLong))
      }
    val before = KeywordIndex.openPostings(spark, src)
    val beforeRows = before.collect().toSet
    val beforeFiles = before.inputFiles.length
    val compacted = KeywordIndex.compactPostings(spark, src, numFiles = 2)
    assert(compacted.inputFiles.length <= 2)
    assert(compacted.inputFiles.length < beforeFiles,
      s"no file-count win ($beforeFiles -> ${compacted.inputFiles.length})")
    assert(compacted.collect().toSet === beforeRows)
    // freshness contract survives: an ensure over the full corpus sees
    // matching content and REUSES (same compacted files — a rebuild
    // would change the file set), and the replay guard (last_batch_id)
    // still skips an old batch
    val ensured = KeywordIndex.ensurePostings(spark, src, docs)
    assert(ensured.inputFiles.toSet === compacted.inputFiles.toSet,
      "ensure after compaction rebuilt instead of reusing")
    val n1 = compacted.count()
    val n2 = KeywordIndex.upsertPostings(spark, src,
      docs.filter(col("doc_id") % 10 === 7).limit(20),
      batchId = Some(0L)).count()
    assert(n2 === n1, "replay guard lost by compaction")
    // and a genuinely NEW batch appends into the compacted layout
    import spark.implicits._
    val n3 = KeywordIndex.upsertPostings(spark, src,
      Seq((990001L, "fresh zebra quartz tokens")).toDF("doc_id", "text"),
      batchId = Some(9L)).count()
    assert(n3 > n1, "live append into the compacted table failed")
  }

  test("a crashed compaction's rename window (live dir missing under a " +
      "matching meta) is recovered by ensurePostings as a rebuild") {
    val src = s"kwspec-$runTag-h"
    KeywordIndex.ensurePostings(spark, src, docs)
    val tag = IndexStore.pathTag(src)
    // simulate the crash: layout gone, meta still matching
    val live = java.nio.file.Paths.get(s"/tmp/graft_kw_$tag/postings")
    org.apache.commons.io.FileUtils.deleteDirectory(live.toFile)
    intercept[Exception] { // the no-probe reader fails loudly
      KeywordIndex.openPostings(spark, src).count()
    }
    val rebuilt = KeywordIndex.ensurePostings(spark, src, docs)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, rebuilt, k = 5))
      === hits(KeywordSearch.bm25TopK(queries, docs, k = 5)))
  }

  test("streaming ingest: micro-batched document arrivals converge to " +
      "the full postings, scoring exactly like a rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = s"kwspec-$runTag-f"
    KeywordIndex.ensurePostings(spark, src,
      docs.filter(col("doc_id") % 10 =!= 7))
    val tail = docs.filter(col("doc_id") % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (tail1, tail2) = tail.splitAt(tail.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.streamingPostingsUpsert(
      mem.toDF().toDF("doc_id", "text"), src).start()
    mem.addData(tail1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(tail2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val post = KeywordIndex.openPostings(spark, src)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post, k = 5))
      === hits(KeywordSearch.bm25TopK(queries, docs, k = 5)))
  }

  test("deletePostings: tombstoned serving equals a rebuild from the " +
      "survivors EXACTLY; fold via compactPostings; ensure clears") {
    val src = s"kwspec-$runTag-h"
    KeywordIndex.ensurePostings(spark, src, docs)
    // delete the rank-1 docs of every query: the strongest visibility
    val victims = KeywordSearch.bm25TopK(queries, docs, k = 5)
      .filter(col("rank") === 1).select("doc_id").distinct()
      .localCheckpoint(true)
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(victimIds.nonEmpty)
    val served = KeywordIndex.deletePostings(spark, src, victims)
    val survivors = docs.join(victims, Seq("doc_id"), "left_anti")
    val expected = hits(KeywordSearch.bm25TopK(queries, survivors, k = 5))
    val got = hits(KeywordSearch.bm25TopKFromPostings(queries, served,
      k = 5))
    assert(got === expected,
      "tombstoned postings must score exactly like a survivor rebuild " +
        "(df/avgdl/N re-derive at query time)")
    assert(got.forall(h5 => !victimIds(h5._3)),
      "a deleted doc surfaced through BM25")
    // absent/duplicate deletes are a served-set no-op; replay skipped
    val served2 = KeywordIndex.deletePostings(spark, src,
      spark.range(9000000, 9000004).toDF("doc_id")
        .unionByName(victims.limit(1)))
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, served2,
      k = 5)) === expected)
    KeywordIndex.deletePostings(spark, src, victims.limit(1),
      batchId = Some(7L))
    KeywordIndex.deletePostings(spark, src,
      survivors.limit(3).select("doc_id"), batchId = Some(7L))
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries,
      KeywordIndex.openPostings(spark, src), k = 5)) === expected)
    // re-inserting a tombstoned doc fails loudly before the fold
    val clash = intercept[IllegalArgumentException] {
      KeywordIndex.upsertPostings(spark, src,
        docs.filter(col("doc_id") === victimIds.head))
    }
    assert(clash.getMessage.contains("tombstoned"))
    // FOLD: physical removal; tombs dir gone; identical answers
    val folded = KeywordIndex.compactPostings(spark, src)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"/tmp/graft_kw_${IndexStore.pathTag(src)}", "tombs")))
    assert(folded.join(victims, Seq("doc_id"), "left_semi").count() === 0)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, folded,
      k = 5)) === expected)
    // the fold counts the surviving documents once: meta n_docs is the
    // stats' document count, and both are the live distinct doc ids
    val foldedMeta = AnnIndex.readMeta(
      s"/tmp/graft_kw_${IndexStore.pathTag(src)}")
    val liveDocs = folded.select("doc_id").distinct().count()
    assert(foldedMeta("n_docs") === foldedMeta("n_docs_stat"))
    assert(foldedMeta("n_docs") === liveDocs)
    // post-fold re-add via plain upsert restores the full corpus
    val back = KeywordIndex.upsertPostings(spark, src,
      docs.join(victims, Seq("doc_id"), "left_semi"))
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, back, k = 5))
      === hits(KeywordSearch.bm25TopK(queries, docs, k = 5)))
    // the fold dropped the checksum (no source text to re-derive it):
    // ensure over the original source REBUILDS and re-seeds it
    val post = KeywordIndex.ensurePostings(spark, src, docs)
    assert(hits(KeywordSearch.bm25TopKFromPostings(queries, post, k = 5))
      === hits(KeywordSearch.bm25TopK(queries, docs, k = 5)))
    // …and a fresh delete followed by ensure also clears (tombFree gate)
    KeywordIndex.deletePostings(spark, src, victims)
    val cleared = KeywordIndex.ensurePostings(spark, src, docs)
    assert(cleared.join(victims, Seq("doc_id"), "left_semi").count() > 0)
  }
}
