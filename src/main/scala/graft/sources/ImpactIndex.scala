package graft.sources

import graft.operators.KeywordSearch
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Impact-ordered BM25 postings with per-block max-impact bounds — the
  * block-max WAND / MaxScore dynamic-pruning idea (Broder et al.
  * CIKM'03; Ding & Suel SIGIR'11, both public) re-expressed for a
  * relational engine. The round-12 verdict's #1 frontier gap: the
  * exhaustive `bm25TopKFromPostings` feeds EVERY posting of every
  * query term into the per-(query, doc) scoring aggregate, so one
  * high-df term at 100 TB means a near-corpus-sized exchange per
  * query batch; the bounded TopKAgg caps the final shuffle, not that
  * one. This layout prunes at BLOCK granularity before the aggregate.
  *
  * Layout under `graft_kwbmw_<tag>`:
  *   impacts/  (term, doc_id, tf, dl, impact, block) PARTITIONED BY
  *             block — the partition count is bounded by `bands`, so
  *             phase 1 and the surviving-block join prune partitions
  *   blockmax/ (term, block, bmax, cnt) — vocabulary × bands rows
  *   meta: n_docs, sum_dl, bands, band_ratio/k1/b (micro-scaled),
  *         content checksum over (doc_id, text)
  *
  * `impact = tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` — the
  * document-side factor of the BM25 contribution, fixed at build time
  * (avgdl is the corpus's). Blocks are GEOMETRIC impact bands off each
  * term's max: `block = min(bands−1, ⌊ln(gmax/impact)/ln(ratio)⌋)` —
  * deliberately NOT the literature's rank-ordered fixed-size blocks,
  * because those need a per-term row_number window whose partition is
  * a stopword's entire postings list (the build-time skew that melts
  * an executor at 100 TB); the band assignment is a per-row projection
  * off one broadcast per-term max, and band 0 still holds each term's
  * top impacts, which is all the pruning math needs.
  *
  * Query ([[wandTopK]]) is OUTPUT-IDENTICAL to the exhaustive path
  * (q240 pins the hash against the same DuckDB oracle as q78):
  *   1. θ: partial scores from the first `p1Bands` bands only (a
  *      partition-pruned scan); the k-th best partial per query is a
  *      valid lower bound of the true k-th best score.
  *   2. prune, two lossless rules (σ_t = idf_t·gmax_t, eps = 1e-6):
  *      (a) ESSENTIAL terms (MaxScore): per query, terms sorted by σ
  *      ascending; a term whose inclusive prefix sum < θ−eps is
  *      non-essential — a doc holding only non-essential terms scores
  *      at most that prefix sum, so candidates enumerate from
  *      essential terms' postings only (this is what prunes stopword-
  *      only docs, which block bounds alone never can); (b) BLOCK-MAX:
  *      an essential band (t,b) survives iff idf_t·bmax(t,b) +
  *      Σ_{t'}σ_{t'} − σ_t ≥ θ−eps. Every pruned doc has true score
  *      < θ−eps — below the k-th score by more than the 6-decimal
  *      ranking granularity, so pruning can never flip a rounded tie
  *      (eps also covers the ULP gap between the stored impact product
  *      and the exhaustive formula's association).
  *   3. score survivors' docs EXACTLY (every query-term row of each
  *      candidate doc, the same expression tree as the exhaustive
  *      path), bounded TopKAgg tail.
  *
  * The scoring aggregate's input shrinks from Σ_t df_t per query to
  * the candidates' rows — the measured reduction lives in BASELINE.md
  * (HybridTune `wand` mode) and q241's relational counters.
  *
  * Rebuild-only lifecycle — the EXPLICIT staleness contract (round
  * 15): an impact-ordered layout is globally re-banded by construction
  * (avgdl and each term's gmax move under content change; an appended
  * block under frozen statistics would either rescore the old corpus
  * silently or mix two scoring regimes in one ranking), so there are
  * no incremental verbs — `ensureImpacts` re-fingerprints and
  * rebuilds. The [[KeywordIndex]] postings twin is THE streaming
  * lexical serving surface: O(batch) upserts, exact BM25 under fresh
  * statistics, deletes served exactly. A streamed corpus therefore
  * runs postings live and re-bands this read-optimized twin on a
  * schedule; between re-bands the impact layout is STALE — exact for
  * the corpus it was built over, behind the streaming surface — and
  * that state is visible at the control plane with zero data scans:
  * [[AnnIndex.listIndexes]]'s `stale` column compares this layout's
  * baked (n_docs, checksum) fingerprint against the postings twin's
  * xor-composed one. Deletes: serve the postings path (exact); a
  * tombstoned impact layout POISONS instead (refuse-don't-guess).
  */
object ImpactIndex {
  import AnnIndex.{fingerprint, parquetReadable, readMeta, readMetaStrs,
    registerExternal, servable, writeMetaFull}

  final case class ImpactHandle(impacts: DataFrame, blockmax: DataFrame,
      nDocs: Long, sumDl: Long, bands: Int, k1: Double, b: Double)

  /** Intermediate frames of one WAND evaluation — exposed so the
    * oracle query (q241) can report the pruning counters without
    * re-deriving the algorithm.
    */
  private[graft] final case class WandFrames(
      qterms: DataFrame, theta: DataFrame, survivingBlocks: DataFrame,
      candidates: DataFrame, result: DataFrame)

  private def bmwBase(spark: SparkSession, tag: String) =
    s"${AnnIndex.annBase(spark)}/graft_kwbmw_$tag"
  private def impactsName(tag: String) = s"graft_kwbmw_impacts_$tag"
  private def bmaxName(tag: String) = s"graft_kwbmw_blockmax_$tag"
  private def tombsName(tag: String) = s"graft_kwbmw_tombs_$tag"

  private def registered(spark: SparkSession, tag: String): Boolean =
    spark.catalog.tableExists(impactsName(tag)) &&
      spark.catalog.tableExists(bmaxName(tag))

  private def attach(spark: SparkSession, tag: String): Unit = {
    val base = bmwBase(spark, tag)
    spark.sql(s"DROP TABLE IF EXISTS ${impactsName(tag)}")
    spark.sql(s"DROP TABLE IF EXISTS ${bmaxName(tag)}")
    registerExternal(spark, impactsName(tag), s"$base/impacts",
      partitionedBy = Some("block"))
    registerExternal(spark, bmaxName(tag), s"$base/blockmax")
  }

  private def metaMatches(meta: Map[String, Long], bands: Int,
      ratioMicro: Long, k1Micro: Long, bMicro: Long, n: Long,
      fp: Long): Boolean =
    meta.get("bands").contains(bands.toLong) &&
      meta.get("ratio_micro").contains(ratioMicro) &&
      meta.get("kone_micro").contains(k1Micro) &&
      meta.get("b_micro").contains(bMicro) &&
      meta.get("n_docs").contains(n) &&
      meta.get("checksum").contains(fp)

  /** Build (or reuse) the impact-ordered layout over `docs`. Freshness
    * is the ensurePostings contract: snapshot-id O(1) trust, else one
    * (doc_id, text) fingerprint pass decides reuse vs rebuild.
    */
  def ensureImpacts(
      spark: SparkSession,
      sourceDir: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bands: Int = 24,
      bandRatio: Double = 1.3,
      k1: Double = 1.2,
      b: Double = 0.75,
      snapshotId: Option[String] = None): ImpactHandle = {
    require(bands >= 2 && bands <= 64, s"bands out of range: $bands")
    require(bandRatio > 1.0, s"bandRatio must exceed 1: $bandRatio")
    val tag = IndexStore.pathTag(sourceDir)
    val base = bmwBase(spark, tag)
    val ratioMicro = math.round(bandRatio * 1e6)
    val k1Micro = math.round(k1 * 1e6)
    val bMicro = math.round(b * 1e6)
    def fieldsMatch = {
      val m = readMeta(base)
      m.get("bands").contains(bands.toLong) &&
        m.get("ratio_micro").contains(ratioMicro) &&
        m.get("kone_micro").contains(k1Micro) &&
        m.get("b_micro").contains(bMicro)
    }
    // a tombstoned (POISONED) layout is stale by definition: the next
    // ensure over the surviving source rebuilds and clears it
    def tombFree = readMeta(base).get("tomb_rows").forall(_ == 0L)
    val snapFresh = snapshotId.exists(id =>
      readMetaStrs(base).get("snapshot_id").contains(id) && fieldsMatch) &&
      tombFree
    if (snapFresh && servable(spark,
        Seq(s"$base/impacts", s"$base/blockmax"),
        registered(spark, tag), () => attach(spark, tag)))
      return handle(spark, tag)
    val (n, fp) = fingerprint(docs.select(docs(idCol), docs(textCol)))
    val metaFresh = metaMatches(readMeta(base), bands, ratioMicro,
      k1Micro, bMicro, n, fp) && tombFree &&
      servable(spark, Seq(s"$base/impacts", s"$base/blockmax"),
        registered(spark, tag), () => attach(spark, tag))
    if (!metaFresh)
      build(spark, tag, docs, idCol, textCol, bands, bandRatio, k1, b,
        ratioMicro, k1Micro, bMicro, n, fp, snapshotId)
    else if (snapshotId.isDefined)
      writeMetaFull(base, readMeta(base).toSeq,
        snapshotId.map("snapshot_id" -> _).toSeq)
    handle(spark, tag)
  }

  private def build(spark: SparkSession, tag: String, docs: DataFrame,
      idCol: String, textCol: String, bands: Int, bandRatio: Double,
      k1: Double, b: Double, ratioMicro: Long, k1Micro: Long,
      bMicro: Long, n: Long, fp: Long,
      snapshotId: Option[String]): Unit = {
    val base = bmwBase(spark, tag)
    // a rebuild serves exactly its source: the poison clears
    AnnIndex.dropTombs(spark, base, tombsName(tag))
    val postings = KeywordSearch.bm25Postings(docs, idCol, textCol)
      .localCheckpoint(true)
    val statsRow = postings.groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0.0)).as("sdl"))
      .head()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "ensureImpacts: empty corpus")
    val sumDl = statsRow.getDouble(1).toLong
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val withImpact = postings.withColumn("impact",
      col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
    // per-term max: one map-side-combinable aggregate (never a per-term
    // window — a stopword's whole postings list in one window partition
    // is the 100 TB build-skew this banding exists to avoid)
    val gmax = withImpact.groupBy("term").agg(max("impact").as("gmax"))
    val banded = withImpact.join(gmax, Seq("term"))
      .withColumn("block", least(lit(bands - 1),
        floor(log(col("gmax") / col("impact")) / lit(math.log(bandRatio)))
          .cast("int")))
      .select("term", "doc_id", "tf", "dl", "impact", "block")
    spark.sql(s"DROP TABLE IF EXISTS ${impactsName(tag)}")
    banded.write.mode(SaveMode.Overwrite)
      .option("path", s"$base/impacts")
      .partitionBy("block")
      .format("parquet").saveAsTable(impactsName(tag))
    spark.sql(s"DROP TABLE IF EXISTS ${bmaxName(tag)}")
    spark.table(impactsName(tag))
      .groupBy("term", "block")
      .agg(max("impact").as("bmax"), count(lit(1)).as("cnt"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$base/blockmax")
      .format("parquet").saveAsTable(bmaxName(tag))
    writeMetaFull(base,
      Seq("n_docs" -> nDocs, "sum_dl" -> sumDl, "bands" -> bands.toLong,
        "ratio_micro" -> ratioMicro, "kone_micro" -> k1Micro,
        "b_micro" -> bMicro, "n_rows" -> n, "checksum" -> fp) ++
        // the delete replay-skip window survives the rebuild
        readMeta(base).get("last_del_batch_id")
          .map("last_del_batch_id" -> _).toSeq,
      snapshotId.map("snapshot_id" -> _).toSeq)
  }

  private def handle(spark: SparkSession, tag: String): ImpactHandle = {
    val meta = readMeta(bmwBase(spark, tag))
    ImpactHandle(spark.table(impactsName(tag)), spark.table(bmaxName(tag)),
      meta("n_docs"), meta("sum_dl"), meta("bands").toInt,
      meta("kone_micro") / 1e6, meta("b_micro") / 1e6)
  }

  def impactsExist(spark: SparkSession, sourceDir: String): Boolean =
    readMeta(bmwBase(spark, IndexStore.pathTag(sourceDir)))
      .contains("checksum")

  /** Attach-or-open the committed layout without a source scan (the
    * openPostings contract, DDL-free when nothing changed).
    */
  def openImpacts(spark: SparkSession, sourceDir: String): ImpactHandle = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = bmwBase(spark, tag)
    require(readMeta(base).contains("n_docs"),
      s"no persisted impact index for '$sourceDir' — run ensureImpacts")
    require(parquetReadable(spark, s"$base/impacts") &&
      parquetReadable(spark, s"$base/blockmax"),
      s"persisted impact layout for '$sourceDir' is unreadable — run " +
        "ensureImpacts to rebuild")
    // POISONED: a tombstoned impact layout must refuse to serve —
    // unlike the postings path (whose stats re-derive at query time,
    // so a tombstone anti-join stays EXACT), this layout bakes
    // df/avgdl/gmax at build time, and serving survivors under stale
    // statistics would silently change scores. Deletes here disable
    // serving until a rebuild over the survivors (refuse-don't-guess).
    require(readMeta(base).get("tomb_rows").forall(_ == 0L),
      s"impact layout for '$sourceDir' is tombstoned (poisoned): its " +
        "baked corpus statistics no longer match the surviving corpus " +
        "— re-run ensureImpacts over the survivors (or serve BM25 via " +
        "the postings path, whose delete is exact)")
    if (!registered(spark, tag)) attach(spark, tag)
    else {
      spark.catalog.refreshTable(impactsName(tag))
      spark.catalog.refreshTable(bmaxName(tag))
    }
    handle(spark, tag)
  }

  /** True iff the layout is tombstoned (poisoned — refuses to serve). */
  def impactsTombstoned(spark: SparkSession, sourceDir: String): Boolean =
    readMeta(bmwBase(spark, IndexStore.pathTag(sourceDir)))
      .get("tomb_rows").exists(_ > 0L)

  /** Erasure verb: POISON-until-rebuild. The layout bakes df/avgdl/
    * per-term gmax at build time, so a tombstone anti-join would serve
    * survivors under STALE statistics (silently different scores —
    * worse than refusing); instead the delete records the victims and
    * disables serving ([[openImpacts]]/[[wandTopK]] fail loudly) until
    * `ensureImpacts` rebuilds over the survivors, which clears the
    * poison. Idempotent; `batchId` rides its own replay-skip counter.
    * Returns the committed tombstone count.
    */
  def deleteImpacts(spark: SparkSession, sourceDir: String,
      ids: DataFrame, batchId: Option[Long] = None): Long = {
    val tag = IndexStore.pathTag(sourceDir)
    val base = bmwBase(spark, tag)
    val meta = readMeta(base)
    require(meta.contains("n_docs"),
      s"no persisted impact index for '$sourceDir' — run ensureImpacts")
    val replayed = batchId.exists(id =>
      meta.get("last_del_batch_id").exists(id <= _))
    if (replayed) return meta.getOrElse("tomb_rows", 0L)
    AnnIndex.commitDocTombs(spark, base, tombsName(tag), ids, meta,
      batchId)
  }

  /** The exhaustive path's contribution expression VERBATIM (with the
    * stored stats as literals) — WAND's exactness claim is that only
    * the SET of aggregated rows shrinks, never the per-row math.
    */
  private def contribExpr(h: ImpactHandle): Column =
    log(lit(1.0) + (lit(h.nDocs.toDouble) - col("df") + lit(0.5))
        / (col("df") + lit(0.5))) *
      col("tf") * lit(h.k1 + 1.0) /
      (col("tf") + lit(h.k1) * (lit(1.0 - h.b) +
        lit(h.b) * col("dl") / lit(h.sumDl.toDouble / h.nDocs.toDouble)))

  private[graft] def wandFrames(spark: SparkSession, sourceDir: String,
      queries: DataFrame, k: Int, p1Bands: Int): WandFrames = {
    require(k >= 1 && p1Bands >= 1)
    val h = openImpacts(spark, sourceDir)
    import graft.functions.expressions.TopKAgg
    import graft.functions.expressions.TopKAgg.top_k
    val qt = queries.select(col("query_id"),
      explode(KeywordSearch.tokens(col("query_text"))).as("term"))
      .distinct()
    // per-(query, term) constants off the vocabulary-sized blockmax:
    // df (Σ cnt), gmax, idf, σ = idf·gmax — all broadcast everywhere
    val perTerm = h.blockmax
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy("term")
      .agg(sum("cnt").cast("double").as("df"), max("bmax").as("gmax"))
      .withColumn("idf", log(lit(1.0) +
        (lit(h.nDocs.toDouble) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("sigma", col("idf") * col("gmax"))
    val qterms = qt.join(broadcast(perTerm), Seq("term"))
    val sAll = qterms.groupBy("query_id").agg(sum("sigma").as("s_all"))
    // phase 1: θ from the top bands only — a PARTITION-PRUNED scan;
    // partial sums lower-bound true scores, so the k-th best partial
    // is a valid threshold (−∞ when a query has under k docs there)
    val p1 = h.impacts.filter(col("block") < p1Bands)
      .join(broadcast(qterms.select("query_id", "term", "df")),
        Seq("term"))
      .withColumn("contrib", contribExpr(h))
      .groupBy("query_id", "doc_id").agg(sum("contrib").as("partial"))
    val theta = p1.groupBy("query_id")
      .agg(top_k(col("partial"), col("doc_id"), k).as("tk"))
      .select(col("query_id"),
        coalesce(try_element_at(col("tk"), lit(k)).getField("score"),
          lit(-1e300)).as("theta"))
    // phase 2a: ESSENTIAL terms (the MaxScore refinement) — terms
    // sorted by σ ascending per query; a term whose inclusive prefix
    // sum stays under θ is non-essential: a doc ALL of whose terms are
    // non-essential scores at most that prefix sum < θ, so candidates
    // need only be enumerated from essential terms' postings. This is
    // what prunes the high-df stopword case block bounds alone cannot
    // (every stopword band "might" contain a doc that also holds the
    // rare term's max — only the essential-list argument rules the
    // stopword-only docs out). The window runs over the query-terms
    // frame (queries × terms rows — bounded), never the postings.
    val eps = 1e-6
    import org.apache.spark.sql.expressions.Window
    val essential = qterms.select("query_id", "term", "sigma")
      .join(broadcast(theta), Seq("query_id"))
      .withColumn("cum", sum("sigma").over(Window
        .partitionBy("query_id")
        .orderBy(col("sigma").asc, col("term").asc)))
      .filter(col("cum") >= col("theta") - lit(eps))
      .select("query_id", "term")
    // phase 2b: an essential (term, band) survives iff its best-possible
    // doc could still make top-k; eps covers fp association + the
    // 6-decimal ranking grid. A doc none of whose essential bands
    // survive has true score < θ − eps (the bound holds through any of
    // its essential terms), so enumeration from survivors is lossless.
    val survivors = h.blockmax
      .join(broadcast(qterms.select("query_id", "term", "idf", "sigma")
        .join(essential, Seq("query_id", "term"), "left_semi")),
        Seq("term"))
      .join(broadcast(sAll), Seq("query_id"))
      .join(broadcast(theta), Seq("query_id"))
      .filter(col("idf") * col("bmax") + col("s_all") - col("sigma")
        >= col("theta") - lit(eps))
      .select("query_id", "term", "block")
    val candidates = h.impacts
      .join(broadcast(survivors), Seq("term", "block"))
      .select("query_id", "doc_id").distinct()
    // phase 3: exact scores for candidates only — every query-term row
    // of each candidate doc, the exhaustive expression, bounded tail
    val scored = h.impacts
      .join(broadcast(qterms.select("query_id", "term", "df")),
        Seq("term"))
      .join(broadcast(candidates), Seq("query_id", "doc_id"), "left_semi")
      .withColumn("contrib", contribExpr(h))
      .groupBy("query_id", "doc_id").agg(sum("contrib").as("score"))
    val result = TopKAgg.rankedTail(scored, round(col("score"), 6),
      col("doc_id"), k, "doc_id", "score")
    WandFrames(qterms, theta, survivors, candidates, result)
  }

  /** BM25 top-k per query through block-max pruning — output-identical
    * to `bm25TopK(queries, docs, k)` over the indexed corpus (the q240
    * gate hash-matches the same DuckDB oracle as the exhaustive q78).
    */
  def wandTopK(spark: SparkSession, sourceDir: String, queries: DataFrame,
      k: Int, p1Bands: Int = 3): DataFrame =
    wandFrames(spark, sourceDir, queries, k, p1Bands).result
}
