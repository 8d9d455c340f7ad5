package graft.rag

import graft.{Tables, TestSpark}
import graft.queries.PipelineQueries
import org.scalatest.funsuite.AnyFunSuite

/** E2 retrieval paths: the ANN-index retriever must be output-identical
  * to the exact retriever at the shipped recall-1.0 operating point.
  */
class RagPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("adaptiveRetrieve: alpha=1 and empty history reduce EXACTLY to " +
      "retrieve; history genuinely shifts an ambiguous query's ranking") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark joins shuffle data across partitions for the merge"),
      (2L, "vector indexes answer similarity queries with cosine scores"),
      (3L, "watermarks bound event time state in streaming windows"))
      .toDF("doc_id", "text")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200).cache()
    val q = Seq((1L, 7L, "data processing")).toDF(
      "query_id", "user_id", "query_text")
    val noHist = Seq.empty[(Long, String)].toDF("user_id", "question")
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "score")
        .as[(Long, Int, Long, Double)].collect().toSet
    val plain = hits(RagPipeline.retrieve(
      q.select("query_id", "query_text"), index, k = 3))
    // alpha=1: profile term zero-weighted — identical to retrieve
    val vecHist = Seq((7L, "vector cosine similarity index"))
      .toDF("user_id", "question")
    assert(hits(RagPipeline.adaptiveRetrieve(q, vecHist, index, k = 3,
      alpha = 1.0)) === plain)
    // empty history: profile falls back to the query cosine — identical
    assert(hits(RagPipeline.adaptiveRetrieve(q, noHist, index, k = 3,
      alpha = 0.5)) === plain)
    // adaptivity: two users, same ambiguous query, different histories —
    // each user's top-1 moves toward their own history's topic
    val q2 = Seq((1L, 7L, "data processing"), (2L, 8L, "data processing"))
      .toDF("query_id", "user_id", "query_text")
    val hist2 = Seq(
      (7L, "vector cosine similarity index scores"),
      (8L, "spark shuffle merge partitions join"))
      .toDF("user_id", "question")
    val adapted = RagPipeline.adaptiveRetrieve(q2, hist2, index, k = 3,
      alpha = 0.3)
      .filter(col("rank") === 1)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toMap
    assert(adapted(1L) === 2L, "vector-history user should surface doc 2")
    assert(adapted(2L) === 1L, "shuffle-history user should surface doc 1")
  }

  test("adaptiveRetrieveQuantized equals the direct adaptive blend at " +
      "the certified margin (both probe fans from the SQ8 codes)") {
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200).cache()
    val q = Seq((1L, 7L, "vector index scan fast"),
      (2L, 8L, "spark join shuffle partition"))
      .toDF("query_id", "user_id", "query_text")
    val hist = Seq((7L, "customer order value table"),
      (8L, "window agg batch row")).toDF("user_id", "question")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "doc_id")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val direct = canon(RagPipeline.adaptiveRetrieve(q, hist, index,
      k = 4, alpha = 0.3))
    val quantized = canon(RagPipeline.adaptiveRetrieveQuantized(spark,
      TestSpark.Sf0001 + "!adaptqspec", q, hist, index, k = 4,
      alpha = 0.3))
    assert(quantized === direct)
    index.unpersist()
  }

  test("adaptiveRetrieveQuantized finds a blend winner that is below the " +
      "candidate margin on BOTH the query and the profile cosine") {
    import spark.implicits._
    val text = "vector index scan fast"
    val qv = Embedder.embed(text).map(_.toDouble)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val qh = unit(qv)
    // a profile direction orthogonal to the query
    val r = Embedder.embed("spark join shuffle partition").map(_.toDouble)
    val rq = r.zip(qh).map { case (a, b) => a * b }.sum
    val ph = unit(r.zip(qh).map { case (a, b) => a - rq * b })
    def mix(a: Double, b: Double) =
      qh.zip(ph).map { case (x, y) => (a * x + b * y).toFloat }
    // m = 2: two chunks beat the target on the query cosine alone, two
    // on the profile cosine alone, yet the target tops the 50/50 blend
    val index = Seq(
      (1L, mix(0.70, 0.70)), // target: cos 0.71 / 0.71, blend 0.71
      (2L, mix(0.90, -0.43)), (3L, mix(0.88, -0.47)),
      (4L, mix(-0.43, 0.90)), (5L, mix(-0.47, 0.88)),
      (6L, mix(-0.60, -0.60)))
      .map { case (id, v) => (id, id, s"chunk $id", v) }
      .toDF("chunk_id", "doc_id", "text", "embedding")
    val q = Seq((1L, 7L, text)).toDF("query_id", "user_id", "query_text")
    val prof = Seq((7L, ph.toSeq)).toDF("user_id", "profile_vec")
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "chunk_id").as[(Int, Long)].collect().toSeq.sorted
    val exact = top(RagPipeline.adaptiveRetrieveWithProfiles(q, prof, index,
      k = 1, alpha = 0.5))
    assert(exact === Seq((1, 1L)))
    assert(top(RagPipeline.adaptiveRetrieveQuantizedWithProfiles(spark,
      s"spec-blend-${java.util.UUID.randomUUID.toString.take(8)}", q, prof,
      index, k = 1, alpha = 0.5, m = 2)) === exact)
  }

  test("retrieveAnn equals exact retrieve at the shipped operating point") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200).cache()
    val queries = PipelineQueries.retrievalQueryDf(spark)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "doc_id")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val exact = canon(RagPipeline.retrieve(queries, index, k = 4))
    val ann = canon(RagPipeline.retrieveAnn(queries, index, k = 4))
    assert(ann === exact)
    index.unpersist()
  }

  test("hybridRetrievePersisted equals hybridRetrieve at the shipped " +
      "operating point") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200).cache()
    val queries = PipelineQueries.retrievalQueryDf(spark)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "doc_id")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val direct = canon(RagPipeline.hybridRetrieve(queries, index, k = 4))
    val persisted = canon(RagPipeline.hybridRetrievePersisted(spark,
      TestSpark.Sf0001 + "!hybridspec", queries, index, k = 4))
    assert(persisted === direct)
    // the quantized serving form (dense half from the persisted SQ8
    // codes) is identical too, at the certified m=64 >= fetchK margin
    val quantized = canon(RagPipeline.hybridRetrieveQuantized(spark,
      TestSpark.Sf0001 + "!hybridqspec", queries, index, k = 4))
    assert(quantized === direct)
    index.unpersist()
  }

  test("the reference's 1536-dim operating point runs end-to-end: " +
      "chunk -> embed -> index -> retrieve -> SQ8-served, with the q65 " +
      "invariants and direct/persisted identity") {
    import org.apache.spark.sql.functions._
    // the reference pins 1536-dim embeddings (AI.py:51); every fixture
    // query runs the 64-dim embedder, so this is the dim-hardcoding
    // canary: the whole pipeline parameterizes on dim or fails here
    val dim = 1536
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200,
      dim = dim).cache()
    assert(index.select(size(col("embedding"))).head().getInt(0) === dim,
      "index embeddings must carry the requested dimension")
    val queries = PipelineQueries.retrievalQueryDf(spark)
    val direct = RagPipeline.retrieve(queries, index, k = 4, dim = dim)
      .cache()
    // q65-style invariants: 4 hits per query, ranks exactly 1..4,
    // scores monotonic non-increasing in rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rank")
    val inv = direct
      .withColumn("prev_score", lag(col("score"), 1).over(w))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"),
        (min("rank") === 1 && max("rank") === 4 &&
          countDistinct("rank") === 4).as("ranks_ok"),
        min(coalesce(col("score") <= col("prev_score"), lit(true)))
          .as("scores_monotonic"))
      .collect()
    assert(inv.length === 5)
    inv.foreach { r =>
      assert(r.getLong(1) === 4L, s"query ${r.getLong(0)}: wrong hit count")
      assert(r.getBoolean(2), s"query ${r.getLong(0)}: ranks not 1..4")
      assert(r.getBoolean(3), s"query ${r.getLong(0)}: scores not monotonic")
    }
    // the persisted SQ8 serving path is output-identical at 1536 too —
    // quantization error stays inside the candidate margin at the
    // reference's ambient dimension, and no layer hardcodes 64
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "doc_id", "score", "text")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val sq8 = full(RagPipeline.retrieveSq8Persisted(spark,
      TestSpark.Sf0001 + "!rag1536", queries, index, k = 4, dim = dim))
    assert(sq8 === full(direct))
    // ...and the no-probe reader form serves the same stored layout
    val served = full(RagPipeline.retrieveSq8Served(spark,
      TestSpark.Sf0001 + "!rag1536", queries, index, k = 4, dim = dim))
    assert(served === sq8)
    direct.unpersist(); index.unpersist()
  }

  test("retrieveSq8Persisted equals retrieve on every column, score and " +
      "text included") {
    val docs = graft.Tables.load(spark, TestSpark.Sf0001, "documents")
    val index = RagPipeline.buildIndex(spark, docs, chunkSize = 200).cache()
    val queries = PipelineQueries.retrievalQueryDf(spark)
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "chunk_id", "doc_id", "score", "text")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val direct = full(RagPipeline.retrieve(queries, index, k = 4))
    val sq8 = full(RagPipeline.retrieveSq8Persisted(spark,
      TestSpark.Sf0001 + "!ragsq8spec", queries, index, k = 4))
    assert(sq8 === direct)
    assert(direct.size === 20)
    index.unpersist()
  }
}
