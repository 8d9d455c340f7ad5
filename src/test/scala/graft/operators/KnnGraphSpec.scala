package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** kNN graph construction: exact baseline by hand, NN-Descent reduction
  * to exact when one init block covers everything, the mutual-kNN
  * sparsifier, the quadratic row guard, and determinism (the engine has
  * no RNG — two builds must be row-identical).
  */
class KnnGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // four 2-d points on known rays: cosine structure is hand-computable.
  // 1=(1,0), 2=(0.9,0.1) [close to 1], 3=(0,1), 4=(0.1,0.9) [close to 3]
  private def tiny = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.0f)),
    (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")

  test("exactGraph: hand-computed 2-NN of four points on known rays") {
    val g = KnnGraph.exactGraph(tiny, k = 2)
      .select("src", "rank", "dst")
      .as[(Long, Int, Long)].collect().toSet
    // nearest of 1 is 2 (cos .994), then 4 (cos .110); symmetric story
    // on the other ray; 2's second neighbor is 4 (cos .207 > 1-vs-3's 0)
    assert(g === Set(
      (1L, 1, 2L), (1L, 2, 4L),
      (2L, 1, 1L), (2L, 2, 4L),
      (3L, 1, 4L), (3L, 2, 2L),
      (4L, 1, 3L), (4L, 2, 2L)))
  }

  test("nnDescent reduces to exactGraph when one init block covers all " +
      "(and is deterministic across rebuilds)") {
    val exact = KnnGraph.exactGraph(tiny, k = 2)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    val a1 = KnnGraph.nnDescent(tiny, k = 2, rounds = 1, blockSize = 4)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    val a2 = KnnGraph.nnDescent(tiny, k = 2, rounds = 1, blockSize = 4)
      .select("src", "rank", "dst").as[(Long, Int, Long)].collect().toSet
    assert(a1 === exact)
    assert(a2 === a1)
  }

  test("mutualEdges keeps only pairs present in BOTH directions, " +
      "canonicalized, at/above the score floor") {
    val g = KnnGraph.exactGraph(tiny, k = 1)
    // k=1 graph: 1→2, 2→1 (mutual), 3→4, 4→3 (mutual)
    val m = KnnGraph.mutualEdges(g)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(m === Set((1L, 2L), (3L, 4L)))
    // both mutual pairs score cos = 0.9/0.9055 ≈ 0.9939: a floor just
    // below keeps both, a floor just above kills both
    assert(KnnGraph.mutualEdges(g, minScore = 0.99).count() === 2)
    assert(KnnGraph.mutualEdges(g, minScore = 0.995).count() === 0)
  }

  test("exactGraph row guard refuses past spark.graft.knn.maxExactRows") {
    spark.conf.set("spark.graft.knn.maxExactRows", "3")
    try {
      val e = intercept[IllegalArgumentException] {
        KnnGraph.exactGraph(tiny, k = 2)
      }
      assert(e.getMessage.contains("maxExactRows"))
    } finally spark.conf.unset("spark.graft.knn.maxExactRows")
  }

  test("graphSearch: held-out query walks the undirected graph to the " +
      "exact answer, output matches brute force") {
    // 40 clustered points (the convergence fixture below); hold out 4
    val pts = (0 until 40).map { i =>
      val theta = (i % 4) * 1.5 + (i / 4) * 0.01
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint(true)
    val q = pts.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val idx = pts.filter(col("vec_id") % 10 =!= 0)
    val graph = KnnGraph.exactGraph(idx, k = 3).select("src", "dst")
    val exact = SimilaritySearch.bruteForceTopK(q, idx, k = 2)
      .select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    val served = KnnGraph.graphSearch(q, idx, graph, k = 2, beam = 8,
      rounds = 3).select("query_id", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(served === exact)
  }

  test("graphSearch's symmetrized-edge localCheckpoint is disk-backed: " +
      "every RDD the undirected search persists may spill to disk") {
    val idx = (0 until 40).map { i =>
      val theta = (i % 4) * 1.5 + (i / 4) * 0.01
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("vec_id", "embedding")
    val graph = KnnGraph.exactGraph(idx, k = 3).select("src", "dst")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("query_id", "query_vec")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    KnnGraph.graphSearch(q, idx, graph, k = 2, beam = 8, rounds = 2)
      .collect()
    val added = sc.getPersistentRDDs.filter { case (id, _) =>
      !before(id) }.values.toSeq
    assert(added.nonEmpty, "the undirected search checkpointed nothing")
    assert(added.forall(_.getStorageLevel.useDisk),
      s"memory-only persisted RDDs: ${added.map(r =>
        r.id -> r.getStorageLevel)}")
  }

  test("graphSearch answers a seedless OUTLIER query via the global " +
      "entry fallback instead of silently dropping it") {
    // every index vector points along +v (scaled copies → identical
    // sign-bit LSH buckets in every table); the query is -v, whose
    // sign bits ALL flip → a different bucket in every table, so the
    // LSH entry join yields zero seeds for it
    val idx = (0 until 64).map(i =>
        (i.toLong, Array(0.5f + i * 0.01f, 1.0f + i * 0.02f)))
      .toDF("vec_id", "embedding")
    val graph = KnnGraph.exactGraph(idx, k = 3).select("src", "dst")
    val q = Seq((100L, Array(-1.0f, -2.0f))).toDF("query_id", "query_vec")
    val got = KnnGraph.graphSearch(q, idx, graph, k = 2, beam = 8,
      rounds = 2).select("query_id", "rank", "vec_id", "score")
      .collect()
    assert(got.length === 2, "outlier query must still yield k results")
    assert(got.forall(_.getLong(0) === 100L))
    // colinear-negative index: every served score is cosine ≈ -1
    assert(got.forall(r => math.abs(r.getDouble(3) + 1.0) < 1e-9))
    assert(got.map(_.getLong(2)).distinct.length === 2)
    // a mixed batch: the seeded query is unaffected by the fallback
    val q2 = Seq((100L, Array(-1.0f, -2.0f)), (101L, Array(0.5f, 1.0f)))
      .toDF("query_id", "query_vec")
    val got2 = KnnGraph.graphSearch(q2, idx, graph, k = 2, beam = 8,
      rounds = 2)
    assert(got2.groupBy("query_id").count().count() === 2)
  }

  test("nnDescent on a blocked corpus still finds cross-block neighbors " +
      "(the rotating-probe legs) and every node keeps exactly k edges") {
    // 40 points in 4 tight angular clusters; with blockSize 8 the init
    // blocks are hash-arbitrary, so true neighbors start split apart
    val pts = (0 until 40).map { i =>
      val theta = (i % 4) * 1.5 + (i / 4) * 0.01
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = KnnGraph.exactGraph(pts, k = 4).select("src", "dst")
    val approx = KnnGraph.nnDescent(pts, k = 4, rounds = 4, blockSize = 8)
    assert(approx.groupBy("src").count().filter(col("count") =!= 4)
      .count() === 0)
    val hits = exact.join(approx.select("src", "dst"),
      Seq("src", "dst"), "left_semi").count()
    // 160 exact edges; the angular clusters make descent easy — demand
    // high recall, not just motion
    assert(hits >= 0.95 * 160, s"recall ${hits / 160.0}")
  }
}
