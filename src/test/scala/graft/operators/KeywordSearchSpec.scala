package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 / token-jaccard ranking, RRF fusion, and the alternating
  * connected-components contract on hand-built inputs with
  * hand-computed answers.
  */
class KeywordSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def queries(rows: (Long, String)*) =
    rows.toDF("query_id", "query_text")

  test("bm25TopK matches the hand-computed Okapi scores and ranking") {
    val d = docs(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "durian")
    val q = queries(1L -> "apple durian")
    val out = KeywordSearch.bm25TopK(q, d, k = 3)
      .select("rank", "doc_id", "score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    // N=3, avgdl=2, both terms df=1 → idf = ln(1 + 2.5/1.5)
    val idf = math.log(1 + 2.5 / 1.5)
    def okapi(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))
    val doc1 = BigDecimal(okapi(2, 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val doc3 = BigDecimal(okapi(1, 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(doc3 > doc1) // short doc, full-strength term beats diluted tf=2
    assert(out === Seq((1, 3L, doc3), (2, 1L, doc1)))
  }

  test("bm25 query terms absent from the corpus contribute nothing") {
    val d = docs(1L -> "alpha beta", 2L -> "gamma delta")
    val out = KeywordSearch.bm25TopK(
      queries(1L -> "zzz qqq"), d, k = 5).count()
    assert(out === 0)
  }

  test("bm25TopKFromPostings over a persisted postings frame equals " +
      "the direct path (index-once/query-many)") {
    val d = graft.Tables.load(spark, graft.TestSpark.Sf0001, "documents")
      .limit(100)
    val q = queries(1L -> "spark join shuffle", 2L -> "vector scan")
    val direct = KeywordSearch.bm25TopK(q, d, k = 5)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    val post = KeywordSearch.bm25Postings(d)
    post.write.mode("overwrite").parquet("/tmp/kw_postings_spec")
    val reread = spark.read.parquet("/tmp/kw_postings_spec")
    val indexed = KeywordSearch.bm25TopKFromPostings(q, reread, k = 5)
      .select("query_id", "rank", "doc_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(indexed === direct)
  }

  test("stored BM25 corpus stats ride as reference objects: two stats " +
      "share one generated source, scores equal the literal form") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val d = docs(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "durian apple kiwi",
      4L -> "kiwi kiwi banana")
    val q = queries(1L -> "apple kiwi", 2L -> "banana durian")
    val post = KeywordSearch.bm25Postings(d).cache()
    post.count() // both plans plan against a materialized cache
    val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = Seq(KeywordSearch.Bm25Stats(4L, 10L, dfs),
      KeywordSearch.Bm25Stats(901L, 18211L, dfs))
    // the literal formulation the stats used to be inlined with
    def literal(st: KeywordSearch.Bm25Stats) = {
      val qt = q.select(col("query_id"),
        explode(KeywordSearch.tokens(col("query_text"))).as("term")).distinct()
      val dfr = st.dfs.join(broadcast(qt.select("term").distinct()), Seq("term"))
        .groupBy("term").agg(sum("df").cast("double").as("df"))
      post.join(broadcast(qt), Seq("term")).join(broadcast(dfr), Seq("term"))
        .withColumn("n_docs", lit(st.nDocs.toDouble))
        .withColumn("avgdl", lit(st.sumDl.toDouble / st.nDocs.toDouble))
        .withColumn("contrib",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
              / (col("df") + lit(0.5)))
            * col("tf") * lit(1.2 + 1.0)
            / (col("tf")
              + lit(1.2) * (lit(1.0 - 0.75) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("query_id", "doc_id").agg(round(sum("contrib"), 6).as("score"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val plans = stats.map(st =>
      KeywordSearch.bm25TopKFromPostings(q, post, k = 10, stats = Some(st)))
    stats.zip(plans).foreach { case (st, p) =>
      assert(p.select("query_id", "doc_id", "score")
        .as[(Long, Long, Double)].collect().toSet === literal(st))
    }
    // the generated source of the stage that evaluates the BM25 formula
    // (the executed adaptive plans; other stages' shapes may follow
    // runtime statistics)
    val sources = plans.map { p =>
      p.collect()
      codegenStringSeq(p.queryExecution.executedPlan).map(_._2)
        .filter(_.contains("Math.log(")).sorted
    }
    assert(sources.head.nonEmpty)
    assert(sources.head === sources(1),
      "a corpus statistic leaked into the generated source")
    post.unpersist()
  }

  test("tokenJaccardTopK scores exact token-set overlap") {
    val d = docs(
      1L -> "red green blue",   // ∩ {red, blue} = 2, ∪ = 3 → 2/3
      2L -> "red yellow",       // ∩ {red} = 1, ∪ = 3 → 1/3
      3L -> "purple")           // no overlap → absent
    val out = KeywordSearch.tokenJaccardTopK(
        queries(7L -> "red blue"), d, k = 5)
      .select("rank", "doc_id", "score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(out === Seq((1, 1L, 0.666667), (2, 2L, 0.333333)))
  }

  test("rrfFuse of a ranking with itself preserves its order, doubling " +
      "each contribution") {
    val r = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val out = KeywordSearch.rrfFuse(Seq(r, r), k = 3)
      .select("rank", "doc_id", "rrf_score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    def s(rank: Int) = BigDecimal(2.0 / (60 + rank))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq((1, 10L, s(1)), (2, 20L, s(2)), (3, 30L, s(3))))
  }

  test("rrfFuse promotes the doc both rankers agree on over either's " +
      "solo leader") {
    // doc 99 is rank 2 in both rankings: 2/62 > 1/61 + 0 → it wins
    val a = Seq((1L, 10L, 1), (1L, 99L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 99L, 2)).toDF("query_id", "doc_id", "rank")
    val top = KeywordSearch.rrfFuse(Seq(a, b), k = 1)
      .select("doc_id").as[Long].collect()
    assert(top === Array(99L))
  }

  test("hybridRetrieve fuses dense and lexical over the chunk index") {
    val docsDf = graft.Tables
      .load(spark, graft.TestSpark.Sf0001, "documents").limit(200)
    val index = graft.rag.RagPipeline
      .buildIndex(spark, docsDf, chunkSize = 200)
    val q = graft.queries.PipelineQueries.retrievalQueryDf(spark)
    val out = graft.rag.RagPipeline.hybridRetrieve(q, index, k = 4)
    val rows = out.select("query_id", "rank", "chunk_id", "score")
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.length === 5 * 4) // k rows per query (pool >= fetchK)
    // per-query ranks are contiguous 1..k and scores non-increasing
    rows.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to 4))
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x._4 >= y._4; case _ => true })
    }
    assert(out.columns.toSeq ===
      Seq("query_id", "rank", "chunk_id", "doc_id", "score", "text"))
  }

  test("hybridRetrieve is EXACTLY rrfFuse over its two component " +
      "rankings (the composition each oracle verifies half of)") {
    val docsDf = graft.Tables
      .load(spark, graft.TestSpark.Sf0001, "documents").limit(200)
    val index = graft.rag.RagPipeline
      .buildIndex(spark, docsDf, chunkSize = 200).cache()
    val q = graft.queries.PipelineQueries.retrievalQueryDf(spark)
    val viaHybrid = graft.rag.RagPipeline.hybridRetrieve(q, index, k = 4)
      .select("query_id", "rank", "chunk_id", "score")
      .as[(Long, Int, Long, Double)].collect().toSet
    val dense = graft.rag.RagPipeline.retrieve(q, index, 10)
      .select(col("query_id"), col("chunk_id").as("doc_id"), col("rank"))
    val lexical = KeywordSearch.bm25TopK(q, index, 10, idCol = "chunk_id")
      .select("query_id", "doc_id", "rank")
    val composed = KeywordSearch.rrfFuse(Seq(dense, lexical), k = 4)
      .select("query_id", "rank", "doc_id", "rrf_score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaHybrid === composed)
  }

  test("clustersAlternating labels a 64-deep chain in O(log n) rounds " +
      "where min-label propagation's diameter bound needs 10x more") {
    val chain = (0L until 63L).map(i => (i + 1, i))
      .toDF("doc_id_a", "doc_id_b")
    // diameter 63: propagation cannot finish in 10 rounds — loud failure
    intercept[IllegalStateException] {
      Dedup.clusters(chain, maxIter = 10).collect()
    }
    // the alternating algorithm contracts it in <= 10 rounds
    val labels = Dedup.clustersAlternating(chain, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 64)
    assert(labels.values.forall(_ == 0L))
  }

  test("clustersAlternating equals min-label propagation on a seeded " +
      "random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 300).map { _ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)
    }.filter { case (a, b) => a != b }
      .toDF("doc_id_a", "doc_id_b")
    val viaProp = Dedup.clusters(edges, maxIter = 30)
      .as[(Long, Long)].collect().toSet
    val viaAlt = Dedup.clustersAlternating(edges)
      .as[(Long, Long)].collect().toSet
    assert(viaAlt === viaProp)
  }

  test("clustersAlternating on empty pairs returns no labels") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id_a", "doc_id_b")
    assert(Dedup.clustersAlternating(empty).count() === 0)
  }

  test("clustersAlternating labels self-pair-only nodes like clusters " +
      "does (the every-node-in-pairs contract)") {
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("doc_id_a", "doc_id_b")
    val viaProp = Dedup.clusters(pairs).as[(Long, Long)].collect().toSet
    val viaAlt = Dedup.clustersAlternating(pairs)
      .as[(Long, Long)].collect().toSet
    assert(viaAlt === viaProp)
    assert(viaAlt === Set((1L, 1L), (2L, 1L), (7L, 7L)))
  }
}
