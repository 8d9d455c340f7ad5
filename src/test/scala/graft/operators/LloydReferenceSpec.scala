package graft.operators

import graft.{Tables, TestSpark}
import graft.functions.VectorOps
import graft.functions.expressions.PqExpressions.pq_encode_codes
import graft.functions.expressions.VectorExpressions.nearest_centroid_cos
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** The map-only Lloyd rounds and the kernel list assignment against the
  * relational formulations they replace, kept here as references only:
  * a per-(key, dim) `posexplode` + `avg` aggregate per training round,
  * and a crossJoin + `max_by(struct(csim, -centroid_id))` assignment.
  * Equality is EXACT — doubles and ids — because layouts persisted by
  * the old formulations are still read, deleted from and upserted into
  * by the new ones.
  */
class LloydReferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `n` frozen partitions of the fixture vectors: both sides read the
    * same rows in the same per-partition order. */
  private def embParts(n: Int): DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding").repartition(n).localCheckpoint()

  private def centroidDf(cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("centroid_id", "centroid_vec")
  }

  private def collectCents(df: DataFrame): Seq[(Int, Seq[Double])] =
    df.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  // reference: kernel assignment feeding a (centroid, dim) avg aggregate
  private def refKMeansRefine(index: DataFrame, init: Seq[(Int, Seq[Double])],
      iters: Int): (Seq[(Int, Seq[Double])], Seq[Set[Int]]) = {
    val sorted = init.sortBy(_._1)
    val k = sorted.length
    val dim = sorted.head._2.length
    var flat = sorted.flatMap(_._2).toArray
    val filled = (1 to iters).map { _ =>
      val rows = index
        .select(nearest_centroid_cos(col("embedding"), flat,
            Array.tabulate(k)(_.toLong), IntegerType).as("ord"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("ord"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("ord", "d")
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = flat.clone()
      rows.foreach(r => next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2))
      flat = next
      rows.map(_.getInt(0)).toSet
    }
    (sorted.indices.map(j =>
      (sorted(j)._1, (0 until dim).map(i => flat(j * dim + i)))), filled)
  }

  // reference: per-row encode feeding a (sub, centroid, dim) avg aggregate
  private def refPqCodebooks(index: DataFrame, numSub: Int, ksub: Int,
      iters: Int): Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    val seedRows = index
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h", "vec_id").limit(ksub)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect()
    val dim = seedRows.head._2.length
    val dsub = dim / numSub
    val effK = seedRows.length
    var flat = new Array[Double](numSub * effK * dsub)
    for { ((_, v), cid) <- seedRows.sortBy(_._1).zipWithIndex
          s <- 0 until numSub; i <- 0 until dsub }
      flat((s * effK + cid) * dsub + i) = v(s * dsub + i)
    for (_ <- 1 to iters) {
      val rows = index
        .select(pq_encode_codes(col("embedding"), flat, numSub, effK)
            .as("codes"),
          VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("codes"), posexplode(col("v")).as(Seq("i", "x")))
        .select((col("i") / lit(dsub)).cast("int").as("sub_id"),
          pmod(col("i"), lit(dsub)).cast("int").as("d"),
          col("codes"), col("x"))
        .select(col("sub_id"),
          element_at(col("codes"), col("sub_id") + 1).as("centroid_id"),
          col("d"), col("x"))
        .groupBy("sub_id", "centroid_id", "d")
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = flat.clone()
      rows.foreach { r =>
        next((r.getInt(0) * effK + r.getInt(1)) * dsub + r.getInt(2)) =
          r.getDouble(3)
      }
      flat = next
    }
    for (s <- 0 until numSub; cid <- 0 until effK) yield
      (s, cid, (0 until dsub).map(i => flat((s * effK + cid) * dsub + i)))
  }

  // reference: crossJoin + max_by placement
  private def refAssign(index: DataFrame, centroids: DataFrame): DataFrame =
    index.crossJoin(broadcast(centroids))
      .withColumn("csim", VectorOps.cosine(col("embedding"), col("centroid_vec")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("centroid_id"), col("embedding")),
        struct(col("csim"), (-col("centroid_id")).as("neg_cid"))).as("w"))
      .select(col("vec_id"), col("w.centroid_id").as("centroid_id"),
        col("w.embedding").as("embedding"))

  Seq(4, 7).foreach { parts =>
    test(s"kMeansRefine on $parts partitions equals the per-(centroid, dim) " +
        "avg reference bit for bit, with a forced empty cluster") {
      val index = embParts(parts)
      assert(index.rdd.getNumPartitions === parts)
      val seeds = index.orderBy("vec_id").limit(6)
        .select(VectorOps.toDouble(col("embedding"))).collect()
        .map(_.getSeq[Double](0))
      // centroid 9 duplicates centroid 2: every tie goes to the lower
      // id, so cluster 9 is empty and must keep its position
      val init = seeds.zipWithIndex.map { case (v, i) => (i * 2, v) }.toSeq :+
        (9, seeds(1))
      val (expected, filled) = refKMeansRefine(index, init, iters = 3)
      assert(!filled.head.contains(init.sortBy(_._1).indexWhere(_._1 == 9)),
        "the duplicate centroid must start out empty")
      assert(collectCents(SimilaritySearch.kMeansRefine(index,
        centroidDf(init), iters = 3)) === expected)
    }
  }

  test("pqCodebooks on 5 partitions equals the per-(sub, centroid, dim) " +
      "avg reference bit for bit, with forced empty centroids") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // subspace 0 is one constant subvector: every seed coincides there,
    // all rows pick centroid 0 and centroids 1..3 stay empty
    val rows = (0 until 300).map { i =>
      (i.toLong, Array(1f, 2f, 3f, 4f) ++ Array.fill(4)(rnd.nextGaussian().toFloat))
    }
    val index = rows.toDF("vec_id", "embedding").repartition(5).localCheckpoint()
    assert(index.rdd.getNumPartitions === 5)
    val expected = refPqCodebooks(index, numSub = 2, ksub = 4, iters = 3)
    val got = SimilaritySearch.pqCodebooks(index, numSub = 2, ksub = 4,
        iters = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
      .sortBy(r => (r._1, r._2))
    assert(got === expected)
    assert(got.filter(_._1 == 0).map(_._3).distinct.size === 1)
  }

  test("assignWithVecs equals the crossJoin + max_by reference on ties " +
      "(duplicate centroids) and a zero vector, for int and bigint ids") {
    import spark.implicits._
    val base = embParts(4)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val index = base.unionByName(
      Seq((999999L, Array.fill(dim)(0f))).toDF("vec_id", "embedding"))
    val vs = base.orderBy("vec_id").limit(5)
      .select(VectorOps.toDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](0))
    // ids out of order, two pairs of duplicate vectors: 7/3 and 12/5
    val cents = centroidDf(Seq((7, vs(0)), (3, vs(0)), (12, vs(1)),
      (5, vs(1)), (1, vs(2)), (20, vs(3)), (9, vs(4))))
    for (c <- Seq(cents, cents.withColumn("centroid_id",
        col("centroid_id").cast("long")))) {
      def placed(df: DataFrame) = df.select(col("vec_id"),
          col("centroid_id").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = SimilaritySearch.assignWithVecs(index, c)
      assert(got.schema("centroid_id").dataType ===
        c.schema("centroid_id").dataType)
      val expected = placed(refAssign(index, c))
      assert(placed(got) === expected)
      assert(expected.contains((999999L, 1L)),
        "the zero vector ties everywhere and goes to the lowest id")
      assert(!expected.exists(p => p._2 == 7L || p._2 == 12L),
        "a duplicate centroid loses every tie to its lower id")
    }
  }
}
