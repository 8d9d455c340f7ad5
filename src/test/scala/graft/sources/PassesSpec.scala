package graft.sources

import graft.{Tables, TestSpark}
import graft.sources.Passes.pass
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

/** The concurrent passes of the store verbs: the helper's contract
  * (effects, failure order, captured context, daemon threads), the job
  * descriptions the verbs' passes carry, and the bucketed-scan setting
  * the compactions pin around their passes.
  */
class PassesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  test("passes run concurrently and every pass's effects are visible " +
      "when run returns") {
    val s = spark
    import s.implicits._
    val dir = tmp("passes")
    // `a` waits for `b`: run one after another, it would time out
    val bStarted = new CountDownLatch(1)
    var overlapped = false
    Passes.run(spark, "spec.effects")(
      pass("a") {
        overlapped = bStarted.await(60, TimeUnit.SECONDS)
        Seq(1L, 2L).toDF("x").write.parquet(s"$dir/a")
      },
      pass("b") {
        bStarted.countDown()
        Seq(3L, 4L, 5L).toDF("x").write.parquet(s"$dir/b")
      })
    assert(overlapped)
    assert(spark.read.parquet(s"$dir/a").count() === 2L)
    assert(spark.read.parquet(s"$dir/b").count() === 3L)
  }

  test("a failing pass: every other pass finishes first, the first " +
      "failure in pass order is thrown, the others are suppressed") {
    val finished = new ConcurrentLinkedQueue[String]
    val first = new IllegalStateException("first in pass order")
    val second = new IllegalArgumentException("thrown first in time")
    val thrown = intercept[IllegalStateException] {
      Passes.run(spark, "spec.fail")(
        pass("slow") { Thread.sleep(300); finished.add("slow") },
        pass("first") { Thread.sleep(100); throw first },
        pass("second") { throw second },
        pass("slower") { Thread.sleep(600); finished.add("slower") })
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq === Seq(second))
    assert(finished.asScala.toSet === Set("slow", "slower"))
  }

  test("each pass runs with the caller's session, SQL conf and local " +
      "properties; its own job description leaves the caller's alone") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    val sc = spark.sparkContext
    sc.setJobGroup(s"passes-$runTag", "the caller's description")
    sc.setLocalProperty("graft.passes.spec", "caller")
    try {
      var seen: (Boolean, String, Int, String, String, String, String) = null
      Passes.run(caller, "spec.context")(pass("probe") {
        seen = (SparkSession.active eq caller,
          SparkSession.active.conf.get("spark.sql.shuffle.partitions"),
          org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions,
          sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("graft.passes.spec"),
          sc.getLocalProperty("spark.job.description"),
          Thread.currentThread.getName)
      })
      assert(seen._1, "the pass did not see the caller's session")
      assert(seen._2 === "3")
      assert(seen._3 === 3)
      assert(seen._4 === s"passes-$runTag")
      assert(seen._5 === "caller")
      assert(seen._6 === "spec.context.probe")
      assert(seen._7.startsWith("graft-pass-"))
      assert(sc.getLocalProperty("spark.job.description") ===
        "the caller's description")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.passes.spec", null)
    }
  }

  test("no pass thread can keep the JVM alive") {
    Passes.run(spark, "spec.daemon")(pass("a")(()), pass("b")(()))
    val threads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-pass-"))
    assert(threads.nonEmpty)
    assert(threads.forall(_.isDaemon), threads.filterNot(_.isDaemon))
  }

  private def emb: DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding")

  private def docs: DataFrame =
    Tables.load(spark, TestSpark.Sf0001, "documents")
      .select("doc_id", "text")

  test("the verbs' concurrent passes describe their jobs by verb and " +
      "pass, and the caller's description is restored") {
    val src = s"passes-$runTag-jobs"
    AnnIndex.ensureSq8(spark, src, emb.filter(col("vec_id") % 10 =!= 7))
    AnnIndex.upsertSq8(spark, src, emb.filter(col("vec_id") % 10 === 7))
    KeywordIndex.ensurePostings(spark, src,
      docs.filter(col("doc_id") % 10 =!= 7))
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => seen.add(
          (p.getProperty("spark.job.description"),
            p.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(s"passes-$runTag-jobs", "the caller's description")
    try {
      AnnIndex.compactSq8(spark, src)
      KeywordIndex.upsertPostings(spark, src,
        docs.filter(col("doc_id") % 10 === 7))
      assert(sc.getLocalProperty("spark.job.description") ===
        "the caller's description")
      val want = Set("sq8.compact.codes", "sq8.compact.vecs",
        "postings.upsert.fingerprint", "postings.upsert.checkpoint",
        "postings.upsert.append", "postings.upsert.dfs",
        "postings.upsert.stats")
      eventually(timeout(30.seconds)) {
        val described = seen.asScala.map(_._1).toSet
        assert(want.subsetOf(described), want -- described)
      }
      // the passes' jobs keep the caller's job group
      assert(seen.asScala.filter(j => want(j._1))
        .forall(_._2 == s"passes-$runTag-jobs"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val autoScanKey =
    "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  /** `compact` run with the setting unset, `true` and `false` leaves it
    * exactly as found: never set when unset, else at the same value.
    */
  private def leavesAutoScanAsFound(compact: () => Unit): Unit =
    Seq(None, Some("true"), Some("false")).foreach { found =>
      found.fold(spark.conf.unset(autoScanKey))(spark.conf.set(autoScanKey, _))
      try {
        compact()
        assert(spark.conf.getAll.get(autoScanKey) === found,
          s"found ${found.getOrElse("unset")}")
      } finally spark.conf.unset(autoScanKey)
    }

  test("compactSq8 leaves the bucketed-scan setting as it found it") {
    val src = s"passes-$runTag-sq8"
    AnnIndex.ensureSq8(spark, src, emb.filter(col("vec_id") % 10 =!= 7))
    AnnIndex.upsertSq8(spark, src, emb.filter(col("vec_id") % 10 === 7))
    leavesAutoScanAsFound(() => AnnIndex.compactSq8(spark, src))
  }

  test("an IVF compaction leaves the bucketed-scan setting as it found it") {
    val src = s"passes-$runTag-ivfsq8"
    AnnIndex.ensureIvfSq8(spark, src, emb, lists = 8, iters = 3)
    AnnIndex.deleteIvfSq8(spark, src, emb.filter(col("vec_id") < 4))
    leavesAutoScanAsFound(() => AnnIndex.compactIvfSq8(spark, src))
  }

  test("compactGraph leaves the bucketed-scan setting as it found it") {
    val s = spark
    import s.implicits._
    val src = s"passes-$runTag-graph"
    val pts = (0 until 40).map { i =>
      val theta = (i % 4) * 1.5 + (i / 4) * 0.01
      (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("vec_id", "embedding")
    GraphIndex.ensureGraph(spark, src, pts, k = 4, rounds = 2,
      blockSize = 16, maxDegree = 12)
    GraphIndex.deleteGraph(spark, src, Seq(2L).toDF("vec_id"))
    leavesAutoScanAsFound(() => GraphIndex.compactGraph(spark, src))
  }
}
