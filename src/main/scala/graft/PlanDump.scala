package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of representative queries to PLANS.md —
  * the evidence artifact for the explain-driven iteration loop (filter
  * pushdown, column pruning, broadcast choices, codegen spans, the custom
  * as-of exec).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val picks = Seq(
      "q01_pricing_summary" -> "filter pushdown + pruned scan + partial/final hash aggregate",
      "q05_region_volume" -> "five-way join: dims broadcast, one shuffle for the aggregate",
      "q35_knn_bruteforce" -> "exact kNN: broadcast query side, fused dot-product codegen",
      "q51_knn_topk_agg" -> "kNN via bounded TopKAgg: partial_top_k before the exchange",
      "q52_asof_native" -> "custom AsOfJoinExec: hash-clustered + sorted children, streaming merge",
      "q59_lsh_strategy" -> "ANN plan rewrite: the naive crossJoin kNN re-planned as bucketed LSH equi-joins — no CartesianProduct/BroadcastNestedLoopJoin in the plan",
      "q64_bucketed_join" -> "bucketed index layout: co-located SMJ on the bucket key — zero Exchange operators on the join",
      "q67_lsh_persisted" -> "persisted LSH index: broadcast probe-set equi-join into the stored bucket table (no IN-literal pushdown, no index-side signature recomputation), id-only exchanges, exact re-rank",
      "q74_rewrite_topk_agg" -> "ANN rewrite of the AGGREGATE kNN shape (the flagship TopKAgg formulation): the naive crossJoin+top_k plan re-planned onto the stored bucket table — no CartesianProduct, scan of graft_lsh_buckets_*",
      "q75_rewrite_global_limit" -> "ANN rewrite of the GLOBAL-LIMIT kNN shape: orderBy(score desc, vec_id asc).limit(k) re-planned onto the stored bucket table, per-query index top-k re-sorted globally",
      "q78_bm25_topk" -> "BM25 inverted-index shape: postings from ONE map-side-combinable hash aggregate; query terms / df / corpus stats all BroadcastExchange (candidate generation is map-side hash joins — the only corpus-wide exchanges are the postings build and its two stats aggregates); bounded partial_top_k before the final per-query exchange",
      "q84_clean_pipeline" -> "composed cleaning funnel: quality + language stages fused into the scan projection (per-row, no join); every corpus-wide exchange keys on the 8-byte hash alone (Dedup.exact's phase-1 agg, evaluated once per consumer branch — min/keep and collision-count — with no ReusedExchange, the documented cost of keeping exact() lazy); the key text only rides the residual exchange over the hash-colliding slice",
      "q91_repetition_signals" -> "per-row native repetition stats (RepetitionStatsF): the WHOLE operator is a projection over the scan — zero Exchange operators, linear in corpus size",
      "q92_decontamination" -> "benchmark decontamination: the eval suite's distinct shingles BroadcastExchange; the corpus side streams through a BroadcastHashJoin — the only corpus-keyed exchange is the per-doc hit aggregate over matching shingles",
      "q94_stratified_sample" -> "deterministic stratified sampling: rate table BroadcastExchange, keep decision a per-row md5 threshold — zero shuffle of the corpus",
      "q95_sequence_packing" -> "fixed-budget sequence packing: ONE exchange keyed on the shard column feeding the per-shard window cumsum — shards pack independently",
      "q97_vocab_coverage" -> "vocabulary induction: one wordcount aggregate (the only corpus exchange) + TakeOrdered top-V; rank/cumsum from a broadcast self-join over the V-row result — no global sort, no single-partition window anywhere",
      "q103_sq8_ann" -> "SQ8 quantized ANN: per-row int8 quantization fused into the scan projection, broadcast query side, integer-dot approximate scoring, bounded partial_top_k candidate selection, exact re-rank joined by id — the float vectors never ride the candidate exchange",
      "q104_lm_score" -> "n-gram LM scoring: two map-side-combinable count aggregates build the model (the only corpus-keyed exchanges besides the scoring joins), token stream hash-joins against them, (N, |V|) scalars broadcast, doc-keyed partial avg — no window, no self-join",
      "q105_sq8_persisted" -> "persisted SQ8 serving: the approximate scan reads the stored codes table (binary codes — 1/4 the bytes of the float table), bounded partial_top_k, re-rank id-join against the co-bucketed float table",
      "q109_ivfsq8_persisted" -> "COMPOSED IVF-SQ8 (invariant query — the plan also carries the float-IVF and exact-kNN verification branches): the composed branch scans graft_ivfsq8_lists_* under a dynamicpruningexpression on centroid_id (unprobed list directories never read) at int8 codes width, integer-dot approximate scoring, bounded partial_top_k, exact re-rank id-join against the co-bucketed float table — probed-row pruning × 4×-smaller scanned rows multiplied in one plan",
      "q115_pq_ann" -> "product-quantized ANN: 16-byte PQ codes from a per-row native encode projection, per-query ADC dot table built on the BroadcastExchange side, lookup-sum scan kernel (zero multiplies) with bounded partial_top_k candidate selection, exact re-rank joined by id",
      "q116_sq8_delete" -> "persisted SQ8 delete: the stored codes scan anti-joined against the co-bucketed tombstone table (broadcast for this small tomb set — the index side never shuffles), then the q105 serving shape over the surviving rows",
      "q119_global_shuffle" -> "deterministic global shuffle: md5 key projection, ONE rangepartitioning exchange establishing global order, per-partition-id window numbering (every Window keyed by pid — no single-partition stage), nPart-row count aggregate + broadcast prefix-offset join",
      "q126_zorder_key" -> "Z-order layout key: per-column min/max from ONE aggregate riding a BroadcastExchange, the Morton interleave a pure codegen projection — zero corpus-keyed exchange anywhere",
      "q129_sketch_skew_join" -> "sketch-driven differentiated skew join: the (bounded) hot-key list BroadcastExchange feeding the semi/anti split, hot side salted-hash-joined against the replicated-hot-only dim, cold side a plain equi-join — union of the two, no blanket dim replication",
      "q130_bloom_pruned_join" -> "Bloom-pruned join: bloom_filter_might_contain as a Filter DIRECTLY above the fact scan (pre-exchange pruning), then the ordinary equi-join — the runtime-filter shape, explicit",
      "q131_source_pagerank" -> "weighted PageRank (final iteration): rank frame from the flat localCheckpoint scan, contribution join keyed by src + map-side-combined dst aggregate, 1-row dangling mass on a BroadcastExchange — nothing global, everything keyed",
      "q133_weighted_sample" -> "weighted sampling: md5-derived priority a per-row projection, bounded partial_top_k before the single final exchange — no global sort for a global top-k",
      "q135_decontaminate_spans" -> "decontamination span removal: the benchmark shingle-hash set BroadcastExchange; corpus exchanges carry (id, pos, 8-byte hash); the only window is doc-keyed over MATCHING starts; ordered doc-keyed rebuild",
      "q137_normalize_text" -> "text normalization: NFC + regex steps fused into the scan projection — the whole operator is one per-row pass, zero Exchange operators",
      "q228_maxsim" -> "late-interaction MaxSim: token'd query side on a BroadcastExchange over the chunk scan, inner per-token max as a PARTIAL aggregate keyed (query, doc, token) — map-side combine collapses chunk rows before any exchange; every post-similarity exchange carries 24-byte keyed doubles, never vectors",
      "q237_maxsim_quantized" -> "quantized two-stage MaxSim: the int8 approximate stage scans SQ8 codes (4× fewer bytes on the chunk-per-vector layout) through the same partial-max shape, bounded top_k doc shortlist, exact float MaxSim only over the candidates' chunks via the doc-id semi-join",
      "q238_embedding_drift" -> "embedding drift: one VectorMeanAgg pass per snapshot (bounded d-double buffers), the cosine-to-centroid projection fused per-row against a literal centroid (no join), PSI over a ≤-buckets-row aggregate — nothing corpus-keyed ever shuffles",
      "q81_bm25_persisted" -> "persisted BM25 with STORED stats: exactly ONE FileScan of graft_kw_postings_* (the scoring join) — corpus stats are reference objects from the meta, and the query side is a driver-built local relation carrying each query term's df, fetched by one eager lookup over the vocabulary-sized graft_kw_dfs_* side table before this plan is built; the round-12 per-call full-postings stats/df aggregates are gone from the plan (PlanInvariantsSpec pins the scan count and the lookup)",
      "q240_bm25_wand" -> "block-max WAND serving: theta phase scans ONLY the top impact bands (PartitionFilters: block < p1Bands on the band-partitioned graft_kwbmw_impacts_* table), the essential-terms window and band-survivor test run over query-batch-sized broadcast frames, and the exact-rescore scan's per-(query,doc) aggregate receives candidate rows only — the exhaustive path's sum-over-every-posting exchange is the thing this plan deletes",
      "q242_plaid_maxsim" -> "PLAID-clustered MaxSim (invariant query — carries the full-scan verification branch too): the probed/candidate centroid sets (bounded by the LIST count, ≤32 here) land as static partition LITERALS on the graft_plaid_lists_* scans — PartitionFilters shows centroid_id IN (…)/= and the file index lists ONLY the named centroid_id= directories; stage 1 reads probed lists' bytes only, stage 2's exact rerank reads only the partitions named by the candidates' doc-to-centroid membership rows (the round-13 isnotnull-only full-directory read is gone; PlanInvariantsSpec pins the pruned shape)",
      "q247_plaidq_maxsim" -> "QUANTIZED PLAID serving (invariant query — carries the full-scan branch): the stage-1 shortlist is an eager checkpoint built from the probed partitions' int8 columns only (its scan's ReadSchema carries codes/qscale/qnorm, never the float embedding — the 4× byte cut multiplying the partition literals; PlanInvariantsSpec pins both), so the graft_plaid_lists_* scans visible in THIS plan are the exact float rerank's, restricted to the candidates' membership partitions via centroid_id literals",
      "q250_plaidq_filtered" -> "FILTERED quantized PLAID serving (round 15 — invariant query carrying the filtered full-scan branch): the allowed-set semi-join restricts the int8 CODES scan, so the metadata filter costs a broadcast semi-join, not the float bytes back — the stage-1 shortlist (eager checkpoint, not in this plan) reads probed partitions × quantized columns under the filter, and the visible graft_plaid_lists_* scans are the exact float rerank's over the allowed candidates' membership partitions, centroid_id literals intact (PlanInvariantsSpec pins the filtered stage-1 shape: partition literals + no-embedding ReadSchema)")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append("Generated by `graft.PlanDump` on sf0.01. What to look for:\n")
    picks.foreach { case (q, note) => sb.append(s"- `$q` — $note\n") }
    sb.append("\n")
    picks.foreach { case (q, _) =>
      sb.append(s"## $q\n\n```\n")
      sb.append(SparkEntry.queries(q)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
