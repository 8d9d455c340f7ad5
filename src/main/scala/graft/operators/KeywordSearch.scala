package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Keyword (lexical) retrieval and rank fusion — the half of hybrid
  * search the reference's vector-only retriever lacks (reference:
  * `/root/reference/AI.py:138` retrieves by embedding cosine alone; a
  * production RAG serving stack pairs that with BM25 and fuses the two
  * rankings, which is exactly what a user migrating off the reference
  * asks for first).
  *
  * Everything here is the classic inverted-index shape expressed as
  * Spark relational ops:
  *
  *   - postings `(doc_id, term, tf, dl)` — one explode + one
  *     map-side-combinable groupBy (a document's tokens live in one row,
  *     hence one partition, so partial aggregation finishes the count
  *     before the exchange; the shuffle carries one row per DISTINCT
  *     (doc, term), not per token);
  *   - query terms are tokenized on the driver and broadcast as a
  *     local relation (a query is a handful of terms), so candidate
  *     generation is a map-side hash join against the postings — the
  *     only corpus-sized exchange in the whole plan is the postings
  *     build itself, which at 100 TB you materialize once
  *     (`bm25TopKFromPostings`) exactly like [[graft.sources.AnnIndex]]
  *     persists the vector buckets;
  *   - scoring shuffles only candidate `(query, doc)` rows, and the
  *     final per-query top-k goes through the bounded
  *     [[graft.functions.expressions.TopKAgg]] (map-side partial top-k,
  *     O(k) rows per task on the last exchange).
  *
  * Scores are ranked on their 6-decimal rounding (ties broken by id
  * ascending) so the ordering is stable across summation orders — the
  * same double-math discipline as the cosine top-k queries.
  */
object KeywordSearch {

  /** Precomputed BM25 corpus statistics: document count, total token
    * length, and a per-term document-frequency frame `(term, df)` —
    * possibly appended DELTAS (the read side sums per term), which is
    * the persisted-layout shape [[graft.sources.KeywordIndex]] maintains
    * incrementally at ensure/upsert/delete time. A delete appends
    * NEGATIVE deltas, so a single row's `df` can be below zero; only the
    * per-term sum is a document frequency. Serving from these replaces
    * the two FULL-POSTINGS aggregates (corpus stats + query-term df)
    * the derived path pays per call — at 100 TB those are corpus-sized
    * scans per query batch; the stats frame is vocabulary-sized.
    *
    * Exactness: `n_docs` and `sum_dl` are integers and `avgdl =
    * sum_dl / n_docs` is the same IEEE division the derived `avg(dl)`
    * performs (dl sums are integral doubles, exact in any order), and
    * the df sums are integer counts — so the served scores are
    * bit-identical to the derived path's.
    *
    * A persisted `dfs` frame is bound to the side table's file listing
    * at the time the stats were taken: after a
    * [[graft.sources.KeywordIndex.compactPostings]] swaps the dir, using
    * it fails with `FAILED_READ_FILE.FILE_NOT_EXIST`. Take the stats
    * again after every compaction.
    */
  final case class Bm25Stats(nDocs: Long, sumDl: Long, dfs: DataFrame)

  /** Lowercased alphanumeric tokens (split on non-`[a-z0-9]` runs,
    * empties dropped). Corpus side and query side MUST tokenize
    * identically, so both go through this one expression; it stays
    * inside whole-stage codegen (builtin split/filter, no UDF).
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** The inverted index: one row per distinct (document, term) with the
    * term frequency and the document's token length — `(doc_id, term,
    * tf, dl)`, both counts as doubles (they only ever feed double math).
    * `dl` rides along from before the explode, so no corpus-sized join
    * is needed to recover it at scoring time.
    */
  def bm25Postings(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), first("dl").as("dl"))

  /** BM25 top-k per query. `queries`: `(query_id, query_text)`; returns
    * `(query_id, rank, doc_id, score)` with `score` rounded to 6
    * decimals (the ranking key). Okapi BM25 with the textbook idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    */
  def bm25TopK(
      queries: DataFrame,
      docs: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bm25TopKFromPostings(queries, bm25Postings(docs, idCol, textCol), k, k1, b)

  /** BM25 over a prebuilt postings frame ([[bm25Postings]] — persist it
    * once per corpus and query many times; the per-call work is then the
    * candidate join over the postings, never a re-tokenization of the
    * corpus).
    *
    * The query side runs on the driver: the queries' tokens are collected
    * through [[tokens]] (the rows the query-term broadcast would collect
    * anyway) and the distinct `(query_id, term)` pairs and terms enter the
    * plan as local relations, so no shuffle or re-tokenization of the
    * query batch is shipped to Spark. With `stats` the stored `df` of
    * exactly those terms is fetched by ONE eager lookup job over the
    * [[Bm25Stats]] side table and summed per term on the driver; the
    * returned plan then scans the postings once. Without `stats` the
    * corpus statistics and `df` stay two aggregates over the postings in
    * the returned plan.
    */
  def bm25TopKFromPostings(
      queries: DataFrame,
      postings: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      stats: Option[Bm25Stats] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = postings.sparkSession
    val toks = queries
      .select(col("query_id"), tokens(col("query_text")).as("toks"))
    val pairs = toks.collect().toSeq.flatMap { r =>
      Option(r.getSeq[String](1)).getOrElse(Nil).map(t => (r.get(0), t))
    }.distinct
    val terms = pairs.map(_._2).distinct
    val termField = StructField("term", StringType, nullable = false)
    def local(fields: Seq[StructField], rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, StructType(fields))
    val qtFields = Seq(toks.schema("query_id"), termField)
    // query-term df and corpus stats: from the stored [[Bm25Stats]] when
    // provided (a vocabulary lookup; the df rides in the query-term
    // relation and the corpus stats as reference objects — inlined
    // literals would re-key the scoring stage's codegen cache after every
    // upsert/delete), else derived from the postings (two corpus-sized
    // aggregates — the ad-hoc path). Same doubles either way, see
    // [[Bm25Stats]].
    val candidates = stats match {
      case Some(st) =>
        import graft.functions.expressions.VectorExpressions.double_ref
        val dfOf =
          if (terms.isEmpty) Map.empty[String, Long]
          else st.dfs.filter(col("term").isin(terms: _*))
            .select("term", "df").collect()
            .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
        val qtd = local(qtFields :+ StructField("df", DoubleType, false),
          pairs.flatMap { case (q, t) =>
            dfOf.get(t).map(d => Row(q, t, d.toDouble)) })
        postings.join(broadcast(qtd), Seq("term"))
          .withColumn("n_docs", double_ref(st.nDocs.toDouble))
          .withColumn("avgdl",
            double_ref(st.sumDl.toDouble / st.nDocs.toDouble))
      case None =>
        val qt = local(qtFields, pairs.map { case (q, t) => Row(q, t) })
        val dfr = postings
          .join(broadcast(local(Seq(termField), terms.map(Row(_)))),
            Seq("term"))
          .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        val derived = postings.select("doc_id", "dl").groupBy("doc_id")
          .agg(first("dl").as("dl"))
          .agg(count(lit(1)).cast("double").as("n_docs"),
            avg("dl").as("avgdl"))
        postings.join(broadcast(qt), Seq("term"))
          .join(broadcast(dfr), Seq("term"))
          .crossJoin(broadcast(derived))
    }
    val scored = candidates
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)))
          * col("tf") * lit(k1 + 1.0)
          / (col("tf")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score"))
    graft.functions.expressions.TopKAgg.rankedTail(
      scored, round(col("score"), 6), col("doc_id"), k, "doc_id", "score")
  }

  /** Token-set Jaccard top-k — the fuzzy-lexical ranker (|tokens(q) ∩
    * tokens(d)| / |tokens(q) ∪ tokens(d)|), same plan shape as BM25:
    * distinct postings, broadcast query terms, candidate-only shuffles.
    * Returns `(query_id, rank, doc_id, score)`, score = 6-decimal
    * jaccard (the ranking key, ties by doc_id).
    */
  def tokenJaccardTopK(
      queries: DataFrame,
      docs: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.functions.expressions.TopKAgg.top_k
    // nd rides along from before the explode (the bm25Postings dl
    // trick), so no corpus-sized size-frame join at scoring time —
    // the distinct token arrays are per-row, and the only shuffles
    // left are candidate-keyed
    val dt = docs
      .select(col(idCol).as("doc_id"),
        array_distinct(tokens(col(textCol))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("nd"),
        explode(col("toks")).as("term"))
    val qt = queries
      .select(col("query_id"), explode(tokens(col("query_text"))).as("term"))
      .distinct()
    val qsize = qt.groupBy("query_id")
      .agg(count(lit(1)).cast("double").as("nq"))
    val inter = dt.join(broadcast(qt), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("double").as("ni"), first("nd").as("nd"))
    graft.functions.expressions.TopKAgg.rankedTail(
      inter.join(broadcast(qsize), Seq("query_id"))
        .withColumn("score",
          col("ni") / (col("nd") + col("nq") - col("ni"))),
      round(col("score"), 6), col("doc_id"), k, "doc_id", "score")
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09): each input
    * ranking contributes `1 / (rrfK + rank)` per (query, doc); docs are
    * re-ranked by the summed contribution. Inputs are per-query top-k
    * frames `(query_id, doc_id, rank)` — already tiny (k rows per query
    * per ranker), so the fusion is a union + one small aggregate; rank
    * ties break by doc_id via the 6-decimal-rounded score key, like
    * every other ranking in the engine.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    graft.functions.expressions.TopKAgg.rankedTail(
      rankings
        .map(_.select(col("query_id"), col("doc_id"), col("rank")))
        .reduce(_ unionByName _)
        .withColumn("contrib", lit(1.0) / (lit(rrfK.toDouble) + col("rank")))
        .groupBy("query_id", "doc_id")
        .agg(sum("contrib").as("rrf")),
      round(col("rrf"), 6), col("doc_id"), k, "doc_id", "rrf_score")
  }
}
