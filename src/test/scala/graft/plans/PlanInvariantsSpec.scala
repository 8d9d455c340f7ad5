package graft.plans

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties PLANS.md documents,
  * asserted so a code change that silently loses a pushdown, broadcast,
  * or bounded-top-k formulation fails CI instead of only showing up in
  * a bench regression.
  */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString

  test("q01: shipdate filter reaches the parquet scan, comment column pruned") {
    val p = physical("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(!p.contains("l_comment"), "scan reads a column the query never uses")
  }

  test("q05: five-way join broadcasts dimensions, no cartesian product") {
    val p = physical("q05_region_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q35/q51: kNN broadcasts the query side; q51 keeps map-side top-k") {
    val p35 = physical("q35_knn_bruteforce")
    assert(p35.contains("BroadcastExchange"), p35)
    val p51 = physical("q51_knn_topk_agg")
    assert(p51.toLowerCase.contains("topkagg"), p51)
    // the bounded aggregate runs partial before the exchange
    assert(p51.toLowerCase.contains("partial_topkagg"), p51)
  }

  test("q129/q130: the hot list rides a broadcast; the bloom probe is a " +
      "filter BELOW the join, not a post-join residual") {
    val p129 = physical("q129_sketch_skew_join")
    assert(p129.contains("BroadcastHashJoin"), p129)
    assert(!p129.contains("CartesianProduct"), p129)
    val p130 = physical("q130_bloom_pruned_join")
    assert(p130.toLowerCase.contains("might_contain"), p130)
    // the probe must appear in a Filter node (pre-exchange pruning),
    // not only inside the join condition
    val filterLines = p130.linesIterator
      .filter(_.trim.startsWith("+- Filter")).toSeq
    assert(filterLines.exists(_.toLowerCase.contains("might_contain")),
      s"bloom probe is not a standalone pre-join filter:\n$p130")
  }

  test("q36 LSH ANN: bucketed equi-join only, id-only exchanges") {
    val p = physical("q36_lsh_ann")
    assert(!p.contains("CartesianProduct"), p)
    // no exchange may carry an embedding column: candidate generation and
    // dedup ship (table, bucket, id) rows only
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("embedding")),
      s"an exchange ships vectors:\n${exchanges.mkString("\n")}")
  }

  test("q67 persisted LSH: probe set joins by broadcast, never an IN-literal " +
      "filter; no exchange ships vectors") {
    val p = physical("q67_lsh_persisted")
    assert(!p.contains("CartesianProduct"), p)
    // the probe set (queries × tables × probes bucket ids) must reach the
    // bucket table as a broadcast hash join — materializing it into an
    // In/InSet predicate cost seconds of optimizer/AQE time per stage at
    // the shipped operating points (measured: 11 s → 0.5 s on q67)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("dynamicpruning"), p)
    val scanFilters = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(!scanFilters.exists(_.contains("In(tb")),
      s"probe ids leaked into a scan filter:\n${scanFilters.mkString("\n")}")
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("embedding")),
      s"an exchange ships vectors:\n${exchanges.mkString("\n")}")
  }

  test("q37 persisted IVF: probed lists prune via dynamic partition " +
      "pruning, not a driver-collected IN-literal of centroid ids") {
    val p = physical("q37_ivf_ann")
    // the probe frame reaches the partitioned lists scan as a broadcast
    // join whose DPP subquery prunes unprobed centroid directories —
    // the plan carries no driver-materialized id list, so it is
    // identical at any query-batch size
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("dynamicpruningexpression"), p)
    val partFilters = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(!partFilters.exists(l => l.contains("INSET")),
      s"driver-collected centroid ids leaked into a partition filter:\n${
        partFilters.mkString("\n")}")
  }

  test("q73 rewrite + persisted index: the naive crossJoin plan lands on " +
      "the stored bucket table") {
    val p = physical("q73_rewrite_persisted")
    assert(p.contains("graft_lsh_buckets_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q74 rewrite of the TopKAgg-aggregate shape lands on the stored " +
      "bucket table") {
    val p = physical("q74_rewrite_topk_agg")
    assert(p.contains("graft_lsh_buckets_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q207 rewrite serves a TOMBSTONED index: the naive raw-source " +
      "kNN lands on the stored bucket table with the tombstone " +
      "anti-join folded in — not degraded to an exact cross-join scan") {
    val p = physical("q207_rewrite_tombstoned")
    assert(p.contains("graft_lsh_buckets_"),
      s"tombstoned layout no longer served by the rewrite:\n$p")
    assert(p.contains("graft_lsh_tombs_") || p.contains("/tombs"),
      s"served plan lost the tombstone anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q206 point-in-time lookup: the interval join keeps its equi key " +
      "(SMJ/SHJ with the range as residual), never nested-loop") {
    // AQE off so join strategies are visible pre-materialization
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = physical("q206_scd2_lookup")
      // the scale property is equi-KEY extraction (the range is a
      // residual on a hash join) — at fixture scale the small dim side
      // legitimately broadcasts (BroadcastHashJoin), at 100 TB the same
      // key hashes into SMJ/SHJ; what must never appear is nested-loop
      assert(p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
        s"interval lookup lost its equi-key join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      // negative control: drop the equi conjunct — with no equi key
      // Catalyst MUST go nested-loop, proving the assertions above
      // have teeth (a refactor that silently loses the key would
      // reproduce exactly this shape)
      import org.apache.spark.sql.functions.col
      val ev = graft.Tables.load(spark, TestSpark.Sf0001, "events")
        .filter(col("user_id") % 5 === 0)
      val dim = graft.operators.Scd2.fromChanges(
        ev.select("user_id", "ts", "event_type"),
        "user_id", "ts", Seq("event_type"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      val bad = probes.join(dim,
        probes("p_ts") >= dim("valid_from") &&
          (dim("valid_to").isNull || probes("p_ts") < dim("valid_to")),
        "left").queryExecution.executedPlan.toString
      assert(bad.contains("BroadcastNestedLoopJoin") ||
        bad.contains("CartesianProduct"),
        s"negative control failed to go nested-loop — guard vacuous:\n$bad")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q75 rewrite of the global-limit shape lands on the stored bucket " +
      "table") {
    val p = physical("q75_rewrite_global_limit")
    assert(p.contains("graft_lsh_buckets_"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q30 exact dedup: the shuffle groups on the 8-byte hash, not the text") {
    val p = physical("q30_dedup_exact")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.exists(_.contains("h#")) || exchanges.exists(_.contains("xxhash")),
      s"no hash-keyed exchange found:\n${exchanges.mkString("\n")}")
  }

  test("q28 retrieval: chunk+embed stays shuffle-free up to the top-k aggregate") {
    val p = physical("q28_rag_retrieval")
    // one exchange for the per-query aggregate, one for the winners join
    // is the ceiling; the index build itself must add none
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n <= 2, s"retrieval plan gained exchanges ($n):\n$p")
    assert(p.toLowerCase.contains("topkagg"), p)
  }

  test("q78 BM25: query terms / df / stats broadcast; the only " +
      "corpus-keyed exchanges are the postings build and scoring aggs") {
    val p = physical("q78_bm25_topk")
    // candidate generation must be map-side: every join is a broadcast
    // (query terms / df / stats are the small sides) — a SortMergeJoin or
    // ShuffledHashJoin would mean the postings got shuffled on term.
    // (term-keyed Exchanges still exist: they are the postings-build and
    // df AGGREGATES, which is exactly where the corpus-wide work belongs.)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled the postings:\n$p")
    // bounded top-k: partial before the final per-query exchange
    assert(p.toLowerCase.contains("partial_topkagg"), p)
    // the 1-row stats crossJoin is the only nested-loop join allowed
    assert(!p.contains("CartesianProduct"), p)
  }

  /** `body`'s result plus the physical plans of the actions it ran
    * eagerly (a QueryExecutionListener; its events are async).
    */
  private def withEagerPlans[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  private def scans(p: String, table: String): Int =
    p.linesIterator.count(l => l.contains("FileScan") && l.contains(table))

  /** The stored-stats BM25 path's df comes from ONE eager lookup whose
    * job scans the vocabulary-sized side table and never the postings.
    */
  private def assertDfLookup(eager: Seq[String]): Unit = {
    val lookups = eager.filter(scans(_, "graft_kw_dfs_") > 0)
    assert(lookups.size === 1,
      s"expected one df lookup over the stats side table:\n${
        eager.mkString("\n\n")}")
    assert(scans(lookups.head, "graft_kw_postings_") === 0,
      s"the df lookup scanned the postings:\n${lookups.head}")
  }

  test("q81 persisted BM25 serves stats from the STORE: exactly one " +
      "postings scan, df from the vocabulary-sized side table") {
    val (p, eager) = withEagerPlans(physical("q81_bm25_persisted"))
    // the derived path scans the postings three times per call (corpus
    // stats, query-term df, scoring); the served-stats path must scan
    // them ONCE (scoring) — at 100 TB the other two were corpus-sized
    // aggregates per query batch
    val postingsScans = scans(p, "graft_kw_postings_")
    assert(postingsScans === 1,
      s"expected exactly 1 postings scan, got $postingsScans:\n$p")
    assertDfLookup(eager)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled the postings:\n$p")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("hybrid persisted serving (q87's served surface) keeps the " +
      "one-postings-scan discipline: the lexical half reads the " +
      "stored postings ONCE with df from the stats side table (the " +
      "r13 statsFor routing must not reintroduce per-call postings " +
      "aggregates). NB the gate targets the SERVING call, not the " +
      "q87 panel — the identity query's two exceptAll branches " +
      "duplicate the whole persisted subtree by construction") {
    import graft.rag.RagPipeline
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200)
    val q = graft.queries.PipelineQueries.retrievalQueryDf(spark)
    val (p, eager) = withEagerPlans(RagPipeline.hybridRetrievePersisted(
        spark, TestSpark.Sf0001 + "!hybrid", q, index, k = 4)
      .queryExecution.executedPlan.toString)
    val postingsScans = scans(p, "graft_kw_postings_")
    assert(postingsScans === 1,
      s"expected exactly 1 postings scan, got $postingsScans:\n$p")
    assertDfLookup(eager)
  }

  test("served quantized hybrid read ships only corpus-side work: no " +
      "shuffle over the query batch, one postings scan and one df " +
      "lookup — before and after hybridDeleteQuantized") {
    import graft.rag.RagPipeline
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200)
      .localCheckpoint(true)
    val q = graft.queries.PipelineQueries.retrievalQueryDf(spark)
    val src = TestSpark.Sf0001 + "!served-" +
      java.util.UUID.randomUUID.toString.take(8)
    RagPipeline.hybridRetrieveQuantized(spark, src, q, index, k = 4).count()
    def check(stage: String): Unit = {
      val (df, eager) = withEagerPlans(
        RagPipeline.hybridRetrieveQuantizedOpen(spark, src, q, index, k = 4))
      val plan: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val p = plan.toString
      // every shuffle must carry corpus-side rows: one whose input reads
      // no stored table moves the query batch itself
      val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty, p)
      val queryOnly = shuffles.filter(e =>
        e.collect { case f: FileSourceScanExec => f }.isEmpty)
      assert(queryOnly.isEmpty,
        s"$stage: a shuffle moves the query batch:\n${queryOnly.mkString("\n")}")
      assert(scans(p, "graft_kw_postings_") === 1,
        s"$stage: expected exactly 1 postings scan:\n$p")
      assertDfLookup(eager)
    }
    check("clean")
    RagPipeline.hybridDeleteQuantized(spark, src,
      index.select("chunk_id").orderBy("chunk_id").limit(7))
    check("after delete")
  }

  test("q86 hybrid over the persisted postings: the BM25 half scans the " +
      "stored postings table, keeps the q78 broadcast discipline") {
    val p = physical("q86_hybrid_persisted")
    // the executed plan must read the persisted layout — a fallback to
    // bm25TopK's inline re-tokenization would pass the oracle but defeat
    // the amortization the index exists for
    assert(p.contains("graft_kw_postings_"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a join shuffled the postings:\n$p")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("q84 cleaning funnel: quality/language stages are per-row (no " +
      "join), the dedup groupBy keys on the 8-byte hash, text never " +
      "rides a corpus exchange") {
    val p = physical("q84_clean_pipeline")
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    // Dedup.exact's two-phase shape survives the composition: the
    // corpus-wide phase-1 exchange keys on the 8-byte hash ALONE; the
    // only exchange carrying the key text is phase 2's residual
    // re-check, which runs on the hash-COLLIDING slice only
    assert(exchanges.exists(l =>
      l.contains("text_hash") && !l.contains("text#")),
      s"no hash-only phase-1 exchange:\n${exchanges.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"),
      s"a funnel stage gained a shuffle join:\n$p")
  }

  test("q91 repetition signals: the whole operator is a projection — " +
      "zero exchanges, no join") {
    val p = physical("q91_repetition_signals")
    assert(!p.contains("Exchange"), s"per-row operator gained a shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q92 decontamination: benchmark shingles broadcast; the corpus " +
      "streams through a broadcast join, never a shuffled one") {
    val p = physical("q92_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus side got shuffled for the join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q93 PII redaction: pure per-row regex projection — zero exchanges") {
    val p = physical("q93_pii_redaction")
    assert(!p.contains("Exchange"), s"per-row operator gained a shuffle:\n$p")
  }

  test("q94 stratified sampling: rate table broadcast, keep decision " +
      "per-row — no corpus shuffle") {
    val p = physical("q94_stratified_sample")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"sampling shuffled the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q99 dup shingles: every corpus exchange keys on the 8-byte " +
      "shingle hash or doc id — raw shingle text never shuffles") {
    val p = physical("q99_dup_shingles")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("sh#")),
      s"shingle text rides an exchange:\n${exchanges.mkString("\n")}")
  }

  test("q95 sequence packing: exactly one exchange — the shard-keyed " +
      "window cumsum; shards pack independently") {
    val p = physical("q95_sequence_packing")
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n == 1, s"expected the single shard-keyed exchange, got $n:\n$p")
    assert(p.contains("source"), p)
  }

  test("q103 SQ8 scan: query side broadcast, candidate selection keeps " +
      "the bounded map-side top-k") {
    val p = physical("q103_sq8_ann")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(p.toLowerCase.contains("partial_topkagg"),
      s"candidate selection lost the map-side bounded top-k:\n$p")
  }

  test("q161/q167 line dedup: the df machinery shuffles only ids, " +
      "positions and 8-byte line hashes; text-carrying hash exchanges " +
      "bounded at one per rewrite join (zero with bucketed storage)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("q161_line_dedup", "q167_line_dedup_store")) {
        val plan = SparkEntry.queries(name)(spark, TestSpark.Sf0001)
          .queryExecution.executedPlan
        val hashed = plan.collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(hashed.nonEmpty, s"$name lost its df aggregate shuffle")
        // the df/hot/cut derivation must be hash-only; text may ride
        // ONLY the final per-doc rewrite join (one per batch path —
        // eliminated in production by id-bucketed corpus storage, the
        // q64 layout; see cutLines' scaladoc)
        val textFree = hashed.filterNot(_.child.output.exists(a =>
          a.name == "text" || a.name == "line"))
        val textCarrying = hashed.size - textFree.size
        assert(textFree.size >= 2,
          s"$name: the line-hash df machinery lost its hash-only " +
            s"exchanges:\n$plan")
        val batches = if (name.contains("store")) 2 else 1
        assert(textCarrying <= batches,
          s"$name: $textCarrying text-carrying hash exchanges (> " +
            s"$batches rewrite joins):\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q159 robust outliers: both boundary frames broadcast back — " +
      "no shuffled join against the corpus") {
    val p = physical("q159_robust_outliers")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"),
      s"a boundary frame fell off the broadcast path:\n$p")
  }

  test("q160 per-group sample: ONE bounded map-side top-k aggregate — " +
      "no per-group sort window") {
    val p = physical("q160_sample_per_group")
    assert(p.toLowerCase.contains("partial_topkagg"),
      s"sample selection lost the map-side bounded top-k:\n$p")
    assert(!p.contains("Window"),
      s"a per-group sort window crept in:\n$p")
  }

  test("q162 binary scan: query side broadcast, candidate selection " +
      "keeps the bounded map-side top-k") {
    val p = physical("q162_binary_ann_1536")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(p.toLowerCase.contains("partial_topkagg"),
      s"candidate selection lost the map-side bounded top-k:\n$p")
  }

  test("q105 persisted SQ8: the scan stage reads the stored codes " +
      "table, not the float embeddings") {
    val p = physical("q105_sq8_persisted")
    // the approximate scan must hit the compressed persisted layout —
    // falling back to in-memory quantization would pass the oracle but
    // re-pay quantization per query and read 4× the bytes
    assert(p.contains("graft_sq8_codes_") || p.contains("graft_ann_sq8_"), p)
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("q109 composed IVF-SQ8: DPP prunes unprobed quantized-list " +
      "partitions; the probed scan reads stored codes with the bounded " +
      "map-side top-k; no driver-materialized id list") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val q = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val h = graft.sources.AnnIndex.ensureIvfSq8(spark, "plans-ivfsq8",
      emb, lists = 8, iters = 2)
    val p = graft.sources.AnnIndex
      .queryIvfSq8(q, h, k = 4, nProbe = 3, m = 16)
      .queryExecution.executedPlan.toString
    // the approximate scan hits the persisted quantized lists…
    assert(p.contains("graft_ivfsq8_lists_") ||
      p.contains("graft_ann_ivfsq8_"), p)
    // …with unprobed centroid directories pruned at runtime (the q37
    // DPP discipline — plan identical at any query-batch size)
    assert(p.contains("dynamicpruningexpression"), p)
    val partFilters = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(!partFilters.exists(_.contains("INSET")),
      s"driver-collected centroid ids leaked into a partition filter:\n${
        partFilters.mkString("\n")}")
    // …candidate selection stays the bounded map-side top-k
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("q115 PQ ANN: ADC table broadcast with the query side; candidate " +
      "selection keeps the bounded map-side top-k") {
    val p = physical("q115_pq_ann")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(p.toLowerCase.contains("partial_topkagg"),
      s"PQ candidate selection lost the map-side bounded top-k:\n$p")
  }

  test("sq8 delete: the tombstone anti-join over the co-bucketed layout " +
      "plans with ZERO exchanges") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val src = "plans-sq8del"
    graft.sources.AnnIndex.ensureSq8(spark, src, emb)
    graft.sources.AnnIndex.deleteSq8(spark, src,
      emb.filter(col("vec_id") < 4).select("vec_id"))
    val p = graft.sources.AnnIndex.openSq8(spark, src)
      .codes.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    // small tombstone sets broadcast; large ones ride the shared vec_id
    // bucketing — either way the INDEX side must never shuffle
    assert(!p.contains("Exchange hashpartitioning"),
      s"tombstone filter shuffled the index side:\n$p")
  }

  test("persisted BQ: the serving scan reads the stored 1-bit codes " +
      "table, not the float embeddings; bounded map-side top-k; the " +
      "tombstone anti-join never shuffles the index side") {
    import org.apache.spark.sql.functions._
    import graft.functions.expressions.VectorExpressions.tile_jitter
    val tiled = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"),
        tile_jitter(col("vec_id"), col("embedding"), reps = 24,
          sigma = 2.0).as("embedding"))
      .localCheckpoint(true)
    val q = tiled.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val src = "plans-bq"
    val h = graft.sources.AnnIndex.ensureBq(spark, src, tiled)
    val p = graft.sources.AnnIndex.queryBq(q, h, k = 4, m = 256)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_bq_codes_") || p.contains("graft_ann_bq_"), p)
    assert(p.toLowerCase.contains("partial_topkagg"),
      s"BQ candidate selection lost the map-side bounded top-k:\n$p")
    // delete: the anti-join over the co-bucketed layout stays
    // exchange-free on the index side (the sq8-delete discipline)
    graft.sources.AnnIndex.deleteBq(spark, src,
      tiled.filter(col("vec_id") < 4).select("vec_id"))
    val pd = graft.sources.AnnIndex.openBq(spark, src)
      .codes.queryExecution.executedPlan.toString
    assert(pd.contains("LeftAnti"), pd)
    assert(!pd.contains("Exchange hashpartitioning"),
      s"tombstone filter shuffled the index side:\n$pd")
  }

  test("persisted IVF-BQ: DPP prunes unprobed sign-packed list " +
      "partitions; no driver-materialized ids; bounded top-k") {
    import org.apache.spark.sql.functions._
    import graft.functions.expressions.VectorExpressions.tile_jitter
    val tiled = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select(col("vec_id"),
        tile_jitter(col("vec_id"), col("embedding"), reps = 24,
          sigma = 2.0).as("embedding"))
      .localCheckpoint(true)
    val q = tiled.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val h = graft.sources.AnnIndex.ensureIvfBq(spark, "plans-ivfbq",
      tiled, lists = 8, iters = 2)
    val p = graft.sources.AnnIndex
      .queryIvfBq(q, h, k = 4, nProbe = 3, m = 256)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ivfbq_lists_") ||
      p.contains("graft_ann_ivfbq_"), p)
    assert(p.contains("dynamicpruningexpression"), p)
    val partFilters = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(!partFilters.exists(_.contains("INSET")),
      s"driver-collected centroid ids leaked into a partition filter:\n${
        partFilters.mkString("\n")}")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("persisted IVF-PQ: DPP prunes unprobed list partitions; the " +
      "probed scan reads stored PQ codes; no driver-materialized ids") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val q = graft.Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec"))
    val h = graft.sources.AnnIndex.ensureIvfPq(spark, "plans-ivfpq",
      emb, lists = 8, iters = 2, numSub = 16, ksub = 64, pqIters = 2)
    val p = graft.sources.AnnIndex
      .queryIvfPq(q, h, k = 4, nProbe = 3, m = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_ivfpq_lists_") ||
      p.contains("graft_ann_ivfpq_"), p)
    assert(p.contains("dynamicpruningexpression"), p)
    val partFilters = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(!partFilters.exists(_.contains("INSET")),
      s"driver-collected centroid ids leaked into a partition filter:\n${
        partFilters.mkString("\n")}")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("q120 persisted PQ: the scan reads the stored codes table, not " +
      "the float embeddings; bounded map-side top-k") {
    val p = physical("q120_pq_persisted")
    assert(p.contains("graft_pq_codes_") || p.contains("graft_ann_pq_"), p)
    assert(p.toLowerCase.contains("partial_topkagg"), p)
  }

  test("q145 quantized hybrid: the dense half scans the stored SQ8 codes " +
      "table (not the float LSH buckets), the lexical half the stored " +
      "postings — the flagship serving path actually gets the " +
      "compressed-scan win") {
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = graft.rag.RagPipeline.buildIndex(spark, docs, chunkSize = 200)
    val q = graft.queries.PipelineQueries.retrievalQueryDf(spark)
    val p = graft.rag.RagPipeline.hybridRetrieveQuantized(spark,
        TestSpark.Sf0001 + "!hybridqplan", q, index, k = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_sq8_codes_"), p)
    assert(p.contains("graft_kw_postings_"), p)
    assert(!p.contains("graft_ann_lsh_"),
      s"the dense half fell back to the float LSH layout:\n$p")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
    index.unpersist()
  }

  test("winnowing fingerprints: the selection is one native per-row " +
      "kernel — zero exchanges, no join; pairs shuffle 8-byte fps only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // NB line-filtering plan text with .trim.startsWith("Exchange")
    // is VACUOUS — Spark renders "+- Exchange …", so the filtered seq
    // is always empty and any forall over it passes. Tree-walk the
    // executed plan (AQE off so exchanges are visible pre-stage-
    // materialization) — the q161/q167 guard pattern.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
      val fp = graft.operators.Dedup.winnowFingerprints(docs)
        .queryExecution.executedPlan
      assert(fp.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"fingerprint construction gained a shuffle:\n$fp")
      assert(!fp.toString.contains("Join"), fp.toString)
      val pairs = graft.operators.Dedup
        .winnowPairs(graft.operators.Dedup.winnowFingerprints(docs))
        .queryExecution.executedPlan
      // the pair stage may shuffle — but every exchange keys on fp/id
      // columns; document text stays in the per-row scan projection
      val exch = pairs.collect { case e: ShuffleExchangeExec => e }
      assert(exch.nonEmpty,
        s"pair stage lost its fp exchange — guard gone vacuous:\n$pairs")
      assert(exch.forall(!_.child.output.exists(_.name == "text")),
        s"document text rode an exchange:\n$pairs")
      // negative control: force text onto an exchange; the guard's
      // predicate must trip (proves the text check has teeth)
      val forced = docs.repartition(4, col("doc_id"))
        .select(col("doc_id"), col("text"))
        .queryExecution.executedPlan
      val fexch = forced.collect { case e: ShuffleExchangeExec => e }
      assert(fexch.nonEmpty &&
        fexch.exists(_.child.output.exists(_.name == "text")),
        s"negative control failed to put text on an exchange:\n$forced")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q148 group split: the ladder is a pure projection over the " +
      "cluster join — no shuffle beyond the dedup phase itself") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val p = graft.operators.CorpusOps.groupSplit(
        docs.withColumn("grp", xxhash64(col("text"))), "grp",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"split assignment gained a shuffle:\n$p")
  }

  test("q156 budget admission: bounded exchanges — the stratum-keyed " +
      "cumulative window; text never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // tree-walk with AQE off, NOT a line filter on "Exchange" (which
    // never matches Spark's "+- Exchange …" rendering — the inherited
    // count was vacuously 0)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q156_budget_admit")(
        spark, TestSpark.Sf0001).queryExecution.executedPlan
      val exch = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exch.nonEmpty,
        s"q156 lost its stratum exchange — guard gone vacuous:\n$plan")
      // stratum window + the final per-source aggregate reuse the same
      // partitioning; anything beyond 3 shuffles means a lost reuse
      assert(exch.size <= 3, s"${exch.size} exchanges:\n$plan")
      assert(exch.forall(!_.child.output.exists(_.name == "text")),
        s"document text rode an exchange:\n$plan")
      val p = plan.toString
      val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(windowLines.nonEmpty && windowLines.forall(_.contains("source")),
        s"the cumsum window is not keyed by the stratum:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q119 global shuffle: every window keyed by the bounded partition " +
      "id — no single-partition corpus window (the range-partitioned " +
      "order itself is pinned behind the consistency checkpoint)") {
    val p = physical("q119_global_shuffle")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, p)
    assert(windows.forall(_.contains("pid")),
      s"a window is not keyed by the partition id:\n${windows.mkString("\n")}")
  }

  test("PLAID serving: the probed/candidate centroid sets land as " +
      "partition LITERALS on the graft_plaid_lists_* scans — stage 1 " +
      "and the rerank read only named centroid directories (the " +
      "round-13 verdict's claim-vs-plan defect: isnotnull-only " +
      "partition filters scanned every directory)") {
    import spark.implicits._
    import graft.sources.PlaidIndex
    // tiny 4-cluster multi-vector fixture (the PlaidIndexSpec shape)
    val chunks = (0 until 120).map { i =>
      val doc = i / 3
      val theta = (doc % 4) * 1.5 + (i % 3) * 0.05 + (doc / 4) * 0.01
      (doc.toLong, i.toLong,
        Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("doc_id", "vec_id", "embedding")
    val qt = Seq((1L, 0,
      Array(math.cos(1.5).toFloat, math.sin(1.5).toFloat)))
      .toDF("query_id", "qpos", "qvec")
    val key = s"plans-plaid-${java.util.UUID.randomUUID.toString.take(8)}"
    val h = PlaidIndex.ensurePlaid(spark, key, chunks, lists = 4,
      iters = 3)
    def listScanLines(p: String): Seq[String] =
      p.linesIterator.filter(_.contains("graft_plaid_lists_")).toSeq
    def assertPruned(p: String, what: String): Unit = {
      val scans = listScanLines(p)
      assert(scans.nonEmpty, s"$what: no plaid lists scan found:\n$p")
      // OptimizeIn renders a 1-element literal set as `=`, small sets
      // as `IN (…)`, large ones as INSET — all static partition
      // filters (the scan's file index lists only the named dirs)
      val unpruned = scans.filterNot(l =>
        l.contains(" IN (") || l.contains("INSET") ||
          raw"\(centroid_id#\d+ = \d+\)".r.findFirstIn(l).isDefined)
      assert(unpruned.isEmpty,
        s"$what: plaid lists scan without centroid partition " +
          s"literals:\n${unpruned.mkString("\n")}")
    }
    // stage 1: one token at nProbe=2 probes ≤2 of the 4 directories
    assertPruned(PlaidIndex.plaidStage1(qt, h, nProbe = 2)
      .queryExecution.executedPlan.toString, "stage 1")
    // QUANTIZED stage 1: same partition literals AND the scan's
    // ReadSchema excludes the float embedding column — the int8
    // serving path pays probed directories × int8 bytes only
    val pq = PlaidIndex.plaidStage1Quantized(qt, h, nProbe = 2)
      .queryExecution.executedPlan.toString
    assertPruned(pq, "quantized stage 1")
    val qScans = listScanLines(pq)
    assert(qScans.forall(!_.contains("embedding")),
      s"quantized stage-1 scan reads the float embedding column:\n${
        qScans.mkString("\n")}")
    assert(qScans.exists(_.contains("codes")),
      s"quantized stage-1 scan does not read the codes column:\n${
        qScans.mkString("\n")}")
    // end-to-end serving: the rerank scan restricts to the candidates'
    // membership directories (the candidate shortlist itself is an
    // eager checkpoint, so this plan's lists scan IS the rerank's)
    assertPruned(PlaidIndex.plaidTopK(spark, key, qt, k = 2,
      nProbe = 2, mDocs = 4)
      .queryExecution.executedPlan.toString, "rerank")
    // FILTERED serving keeps both disciplines: the allowed-set
    // semi-join must not defeat the partition literals on either
    // stage's scan
    val allowed = (0 until 40).map(_.toLong).filter(_ % 2 == 0)
      .toDF("doc_id")
    assertPruned(PlaidIndex.plaidTopKFiltered(spark, key, qt, allowed,
      k = 2, nProbe = 2, mDocs = 4)
      .queryExecution.executedPlan.toString, "filtered rerank")
    // FILTERED serving through the QUANTIZED stage 1 (round-15): the
    // allowed-set semi-join must defeat NEITHER discipline — the
    // filtered codes scan still carries the centroid partition
    // literals AND its ReadSchema excludes the float embedding column
    // (the stage-1 shape filteredServe hands plaidStage1Quantized)
    val hFq = h.copy(
      lists = h.lists.join(allowed, Seq("doc_id"), "left_semi"),
      docCentroids = h.docCentroids.join(allowed, Seq("doc_id"),
        "left_semi"))
    val pfq = PlaidIndex.plaidStage1Quantized(qt, hFq, nProbe = 2)
      .queryExecution.executedPlan.toString
    assertPruned(pfq, "filtered quantized stage 1")
    val fqScans = listScanLines(pfq)
    assert(fqScans.forall(!_.contains("embedding")),
      s"filtered quantized stage-1 scan reads the float embedding " +
        s"column:\n${fqScans.mkString("\n")}")
    assert(fqScans.exists(_.contains("codes")),
      s"filtered quantized stage-1 scan does not read the codes " +
        s"column:\n${fqScans.mkString("\n")}")
    // and the public verb's visible plan (the exact float rerank —
    // the shortlist is an eager checkpoint) keeps its literals too
    assertPruned(PlaidIndex.plaidTopKFilteredQuantized(spark, key, qt,
      allowed, k = 2, nProbe = 2, mDocs = 4)
      .queryExecution.executedPlan.toString, "filtered quantized rerank")
  }

  test("IVF list placement is one map-side kernel: the assignment plan " +
      "has no exchange and no nested-loop join") {
    import graft.Tables
    import graft.functions.VectorOps
    import graft.operators.SimilaritySearch
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("centroid_id"),
        VectorOps.toDouble(col("embedding")).as("centroid_vec"))
    val p = SimilaritySearch.assignWithVecs(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("NearestCentroidCosF") ||
      p.toLowerCase.contains("nearestcentroidcos"), p)
  }

  test("Lloyd and PQ training rounds are map-only: every job of " +
      "kMeansRefine and pqCodebooks runs ONE stage and shuffles nothing") {
    import graft.Tables
    import graft.functions.VectorOps
    import graft.operators.SimilaritySearch
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("centroid_id"),
        VectorOps.toDouble(col("embedding")).as("centroid_vec"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val stagesPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stagesPerJob.add(e.stageInfos.size)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    import spark.implicits._
    val init = cents.toDF("centroid_id", "centroid_vec")
    spark.sparkContext.addSparkListener(l)
    try {
      SimilaritySearch.kMeansRefine(emb, init, iters = 3)
      SimilaritySearch.pqCodebooks(emb, numSub = 16, ksub = 16, iters = 3)
      Thread.sleep(1000) // listener events are async
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val jobs = stagesPerJob.asScala.toSeq
    assert(jobs.size >= 6, s"expected one job per round, saw $jobs")
    assert(jobs.forall(_ == 1), s"a training job ran more than one stage: $jobs")
    assert(shuffled.get === 0L, s"training shuffled ${shuffled.get} bytes")
  }
}
