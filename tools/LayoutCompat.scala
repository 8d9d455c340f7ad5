package org.apache.spark.graftcompat

import graft.sources.AnnIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Driver of `tools/layoutcompat.py`: lays out (`build`) or drives
  * (`ops`) a persisted LSH, SQ8, float-IVF, PQ and OPQ layout under
  * `store`, printing after every verb one `JOBS` line (Spark jobs the
  * verb ran), one `META` line (the layout's meta map, keys sorted) and
  * one `ANS` line (a fixed query batch's answers over the returned
  * handle).
  *
  *     LayoutCompat {build|ops} <store dir> <data dir>
  *
  * The package sits under `org.apache.spark` for the listener bus's
  * drain, so each verb's job count is exact.
  */
object LayoutCompat {
  def main(args: Array[String]): Unit = {
    val Array(mode, store, data) = args
    val spark = SparkSession.builder().master("local[2]")
      .appName("layoutcompat")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.ann.basePath", store)
      .config("spark.sql.warehouse.dir", s"$store/_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def step[T](name: String)(body: => T): T = {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      val before = jobs.get
      val r = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      println(s"JOBS $name ${jobs.get - before}")
      r
    }
    def vecs(lo: Int, hi: Int): DataFrame = (lo until hi).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(16)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // file-backed rows, so the LSH meta records real source paths
    if (!Files.exists(Paths.get(s"$data/base"))) {
      vecs(0, 200).coalesce(1).write.parquet(s"$data/base")
      vecs(200, 240).coalesce(1).write.parquet(s"$data/tail")
    }
    val base = spark.read.parquet(s"$data/base")
    val tail = spark.read.parquet(s"$data/tail")
    val queries = vecs(1000, 1006)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val del = Seq(0L, 1L, 2L, 3L, 205L, 999L).toDF("vec_id")
    val lshKey = "layoutcompat-lsh"
    val sq8Key = "layoutcompat-sq8"
    val ivfKey = "layoutcompat-ivf"
    val pqKey = "layoutcompat-pq"
    val opqKey = "layoutcompat-opq"
    val keys = Map("lsh" -> lshKey, "sq8" -> sq8Key, "ivf" -> ivfKey,
      "pq" -> pqKey, "opq" -> opqKey)
    def meta(stem: String): Unit = {
      val dir = Paths.get(store,
        s"graft_ann_${stem}_${graft.sources.IndexStore.pathTag(keys(stem))}")
      val kv = "\"([a-zA-Z_]+)\"\\s*:\\s*(-?\\d+|\"[^\"]*\")".r
        .findAllMatchIn(Files.readString(dir.resolve("_ann_meta.json")))
        .map(m => s"${m.group(1)}=${m.group(2)}").toSeq.sorted
      println(s"META $stem ${kv.mkString(" ")}")
    }
    def lsh(name: String)(h: => AnnIndex.LshHandle): Unit = {
      val r = step(s"lsh-$name")(h)
      meta("lsh")
      val rows = AnnIndex.queryLsh(queries, r, k = 4, probes = 2).collect()
        .map(_.toString).sorted
      println(s"ANS lsh-$name vecs=${r.vecs.count()} " +
        s"buckets=${r.buckets.count()} tables=${r.tables} bits=${r.bits} " +
        s"paths=${r.indexedPaths.mkString(",")} ${rows.mkString(" ")}")
    }
    def sq8(name: String)(h: => AnnIndex.CodesHandle): Unit = {
      val r = step(s"sq8-$name")(h)
      meta("sq8")
      val rows = AnnIndex.querySq8(queries, r, k = 4, m = 32).collect()
        .map(_.toString).sorted
      println(s"ANS sq8-$name vecs=${r.vecs.count()} " +
        s"codes=${r.codes.count()} ${rows.mkString(" ")}")
    }
    def ivf(name: String)(h: => AnnIndex.IvfHandle): Unit = {
      val r = step(s"ivf-$name")(h)
      meta("ivf")
      val rows = AnnIndex.queryIvf(queries, r, k = 4, nProbe = 2).collect()
        .map(_.toString).sorted
      println(s"ANS ivf-$name lists=${r.lists.count()} " +
        s"centroids=${r.centroids.count()} ${rows.mkString(" ")}")
    }
    def pq(name: String)(h: => AnnIndex.PqHandle): Unit = {
      val r = step(s"pq-$name")(h)
      meta("pq")
      val rows = AnnIndex.queryPq(queries, r, k = 4, m = 32).collect()
        .map(_.toString).sorted
      println(s"ANS pq-$name vecs=${r.vecs.count()} " +
        s"codes=${r.codes.count()} codebook=${r.codebook.count()} " +
        s"numSub=${r.numSub} ksub=${r.ksub} ${rows.mkString(" ")}")
    }
    def opq(name: String)(h: => AnnIndex.OpqHandle): Unit = {
      val r = step(s"opq-$name")(h)
      meta("opq")
      val rows = AnnIndex.queryOpq(queries, r, k = 4, m = 32).collect()
        .map(_.toString).sorted
      println(s"ANS opq-$name vecs=${r.vecs.count()} " +
        s"codes=${r.codes.count()} codebook=${r.codebook.count()} " +
        s"rotation=${r.rotation.count()} numSub=${r.numSub} " +
        s"ksub=${r.ksub} ${rows.mkString(" ")}")
    }
    def ensurePq(numSub: Int, snap: Option[String]) =
      AnnIndex.ensurePq(spark, pqKey, base, numSub = numSub, ksub = 16,
        storageBuckets = 4, snapshotId = snap)
    def ensureOpq(numSub: Int, snap: Option[String]) =
      AnnIndex.ensureOpq(spark, opqKey, base, numSub = numSub, ksub = 16,
        storageBuckets = 4, snapshotId = snap)
    def ensureIvf(rows: DataFrame, snap: Option[String]) =
      AnnIndex.ensureIvf(spark, ivfKey, rows, lists = 4, iters = 2,
        snapshotId = snap)
    def upsertIvf(rows: DataFrame) =
      AnnIndex.upsertIvf(spark, ivfKey, rows, lists = 4, iters = 2)
    def ensureLsh(rows: DataFrame, snap: Option[String]) =
      AnnIndex.ensureLsh(spark, lshKey, rows, tables = 8, bits = 4,
        storageBuckets = 4, snapshotId = snap)
    def upsertLsh(rows: DataFrame, b: Option[Long]) =
      AnnIndex.upsertLsh(spark, lshKey, rows, tables = 8, bits = 4,
        storageBuckets = 4, batchId = b)
    if (mode == "build") {
      lsh("build")(ensureLsh(base, Some("s1")))
      sq8("build")(AnnIndex.ensureSq8(spark, sq8Key, base,
        storageBuckets = 4, snapshotId = Some("s1")))
      ivf("build")(ensureIvf(base, Some("s1")))
      pq("build")(ensurePq(4, Some("s1")))
      opq("build")(ensureOpq(4, Some("s1")))
    } else {
      lsh("open")(AnnIndex.openLsh(spark, lshKey))
      lsh("open-again")(AnnIndex.openLsh(spark, lshKey))
      lsh("ensure-fresh-snapshot")(ensureLsh(base, Some("s1")))
      lsh("ensure-fresh-fingerprint")(ensureLsh(base, Some("s2")))
      lsh("upsert")(upsertLsh(tail, Some(1L)))
      lsh("upsert-replay")(upsertLsh(tail, Some(1L)))
      lsh("delete")(AnnIndex.deleteLsh(spark, lshKey, del, Some(1L)))
      lsh("delete-replay")(AnnIndex.deleteLsh(spark, lshKey, del, Some(1L)))
      lsh("open-tombstoned")(AnnIndex.openLsh(spark, lshKey))
      println("EXISTS lsh " + AnnIndex.lshExists(spark, lshKey, tables = 8,
        bits = 4, storageBuckets = 4) + " " + AnnIndex.lshExists(spark,
        lshKey, tables = 8, bits = 5, storageBuckets = 4))
      println("CLASH lsh " + scala.util.Try(upsertLsh(
        base.filter(col("vec_id") === 1L), None)).failed
        .map(_.getMessage).getOrElse("none"))
      lsh("compact")(AnnIndex.compactLsh(spark, lshKey))
      lsh("compact-clean")(AnnIndex.compactLsh(spark, lshKey))
      lsh("ensure-rebuild")(ensureLsh(base, None))
      lsh("ensure-upserted-rebuild")(AnnIndex.ensureLshUpserted(spark,
        lshKey, base, tail, tables = 8, bits = 4, storageBuckets = 4))
      lsh("ensure-upserted-fresh")(AnnIndex.ensureLshUpserted(spark,
        lshKey, base, tail, tables = 8, bits = 4, storageBuckets = 4))
      sq8("open")(AnnIndex.openSq8(spark, sq8Key))
      sq8("ensure-fresh-snapshot")(AnnIndex.ensureSq8(spark, sq8Key, base,
        storageBuckets = 4, snapshotId = Some("s1")))
      sq8("ensure-fresh-fingerprint")(AnnIndex.ensureSq8(spark, sq8Key,
        base, storageBuckets = 4, snapshotId = Some("s2")))
      sq8("upsert")(AnnIndex.upsertSq8(spark, sq8Key, tail,
        storageBuckets = 4, batchId = Some(1L)))
      sq8("delete")(AnnIndex.deleteSq8(spark, sq8Key, del, Some(1L)))
      sq8("open-tombstoned")(AnnIndex.openSq8(spark, sq8Key))
      println("EXISTS sq8 " + AnnIndex.sq8Exists(spark, sq8Key))
      sq8("compact")(AnnIndex.compactSq8(spark, sq8Key))
      sq8("ensure-rebuild")(AnnIndex.ensureSq8(spark, sq8Key, base,
        storageBuckets = 4))
      ivf("open")(AnnIndex.openIvf(spark, ivfKey))
      ivf("open-again")(AnnIndex.openIvf(spark, ivfKey))
      ivf("ensure-fresh-snapshot")(ensureIvf(base, Some("s1")))
      ivf("ensure-fresh-fingerprint")(ensureIvf(base, Some("s2")))
      ivf("upsert")(upsertIvf(tail))
      ivf("delete")(AnnIndex.deleteIvf(spark, ivfKey, del, Some(1L)))
      ivf("delete-replay")(AnnIndex.deleteIvf(spark, ivfKey, del, Some(1L)))
      ivf("open-tombstoned")(AnnIndex.openIvf(spark, ivfKey))
      println("EXISTS ivf " + AnnIndex.ivfExists(spark, ivfKey, lists = 4,
        iters = 2) + " " + AnnIndex.ivfExists(spark, ivfKey, lists = 8,
        iters = 2))
      println("CLASH ivf " + scala.util.Try(upsertIvf(
        base.filter(col("vec_id") === 1L))).failed
        .map(_.getMessage).getOrElse("none"))
      ivf("compact")(AnnIndex.compactIvf(spark, ivfKey))
      ivf("compact-clean")(AnnIndex.compactIvf(spark, ivfKey))
      ivf("ensure-rebuild")(ensureIvf(base, None))
      ivf("ensure-upserted-rebuild")(AnnIndex.ensureIvfUpserted(spark,
        ivfKey, base, tail, lists = 4, iters = 2))
      ivf("ensure-upserted-fresh")(AnnIndex.ensureIvfUpserted(spark,
        ivfKey, base, tail, lists = 4, iters = 2))
      pq("open")(AnnIndex.openPq(spark, pqKey))
      pq("open-again")(AnnIndex.openPq(spark, pqKey))
      pq("ensure-fresh-snapshot")(ensurePq(4, Some("s1")))
      pq("ensure-fresh-fingerprint")(ensurePq(4, Some("s2")))
      pq("ensure-rebuild")(ensurePq(8, None))
      opq("open")(AnnIndex.openOpq(spark, opqKey))
      opq("open-again")(AnnIndex.openOpq(spark, opqKey))
      opq("ensure-fresh-snapshot")(ensureOpq(4, Some("s1")))
      opq("ensure-fresh-fingerprint")(ensureOpq(4, Some("s2")))
      println("EXISTS opq " + AnnIndex.opqExists(spark, opqKey, numSub = 4,
        ksub = 16) + " " + AnnIndex.opqExists(spark, opqKey, numSub = 8,
        ksub = 16))
      opq("ensure-rebuild")(ensureOpq(8, None))
    }
    spark.stop()
  }
}
