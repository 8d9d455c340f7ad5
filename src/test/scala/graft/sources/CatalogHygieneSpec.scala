package graft.sources

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent,
  DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Open-path catalog hygiene: once a layout's registration matches the
  * store, every further `open*` must be DDL-FREE (refresh only). The
  * round-12 pattern (unconditional DROP + conditional CREATE of the
  * tombs table per open) grew the session catalog's DDL history with
  * session age, so plan time drifted upward on long-lived drivers —
  * exactly the q218-class drift the round-12 verdict flagged. Counted
  * through the external catalog's own event bus (CreateTableEvent /
  * DropTableEvent), not by timing.
  */
class CatalogHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  private def vecs(n: Int): DataFrame = (0 until n).map { i =>
    val theta = (i % 4) * 1.5 + (i / 4) * 0.01
    (i.toLong, Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
  }.toDF("vec_id", "embedding")

  private def docs(n: Int): DataFrame = (0 until n).map(i =>
    (i.toLong, s"alpha beta gamma delta token$i")).toDF("doc_id", "text")

  /** Run `body` with a listener on the external catalog's event bus
    * (synchronous postToAll — no flush/wait needed) and return the
    * table-DDL events it emitted.
    */
  private def ddlDuring(body: => Unit): Seq[ExternalCatalogEvent] = {
    val buf = scala.collection.mutable.ArrayBuffer[ExternalCatalogEvent]()
    val listener = new ExternalCatalogEventListener {
      override def onEvent(event: ExternalCatalogEvent): Unit =
        buf.synchronized {
          event match {
            case _: CreateTableEvent | _: DropTableEvent => buf += event
            case _ => ()
          }
        }
    }
    val cat = spark.sharedState.externalCatalog
    cat.addListener(listener)
    try body finally cat.removeListener(listener)
    buf.toSeq
  }

  test("second openLsh issues zero catalog DDL (clean layout)") {
    val key = s"hyg-$runTag-lsh"
    AnnIndex.ensureLsh(spark, key, vecs(64), tables = 2, bits = 2)
    AnnIndex.openLsh(spark, key)
    val evs = ddlDuring { AnnIndex.openLsh(spark, key) }
    assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
  }

  test("tombstoned openLsh stabilizes: one registration, then zero DDL") {
    val key = s"hyg-$runTag-lshd"
    AnnIndex.ensureLsh(spark, key, vecs(64), tables = 2, bits = 2)
    AnnIndex.deleteLsh(spark, key, Seq(1L, 2L).toDF("vec_id"))
    // the delete committed + registered the tombs table in THIS session;
    // every open against the unchanged store must now be DDL-free
    AnnIndex.openLsh(spark, key)
    val evs = ddlDuring { AnnIndex.openLsh(spark, key) }
    assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
    // cross-session appearance still registers (exactly once): simulate
    // a foreign session's commit by dropping only the local registration
    spark.sql(s"DROP TABLE IF EXISTS graft_lsh_tombs_" +
      IndexStore.pathTag(key))
    val reattach = ddlDuring { AnnIndex.openLsh(spark, key) }
    assert(reattach.count(_.isInstanceOf[CreateTableEvent]) === 1)
    val settled = ddlDuring { AnnIndex.openLsh(spark, key) }
    assert(settled.isEmpty, s"got: ${settled.mkString(", ")}")
  }

  test("second openGraph issues zero catalog DDL") {
    val key = s"hyg-$runTag-g"
    GraphIndex.ensureGraph(spark, key, vecs(60), k = 4, rounds = 2,
      blockSize = 16, maxDegree = 12)
    GraphIndex.openGraph(spark, key)
    val evs = ddlDuring { GraphIndex.openGraph(spark, key) }
    assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
    // and with tombstones committed
    GraphIndex.deleteGraph(spark, key, Seq(3L).toDF("vec_id"))
    GraphIndex.openGraph(spark, key)
    val evs2 = ddlDuring { GraphIndex.openGraph(spark, key) }
    assert(evs2.isEmpty, s"expected zero DDL, got: ${evs2.mkString(", ")}")
  }

  test("second openPostings / repeat ensurePostings issue zero DDL") {
    val key = s"hyg-$runTag-kw"
    val d = docs(40)
    KeywordIndex.ensurePostings(spark, key, d)
    KeywordIndex.openPostings(spark, key)
    val evs = ddlDuring { KeywordIndex.openPostings(spark, key) }
    assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
    // the fingerprint-fresh ensure path must be DDL-free too: reuse is
    // the common serving call, and DDL there grows with session age
    val evs2 = ddlDuring { KeywordIndex.ensurePostings(spark, key, d) }
    assert(evs2.isEmpty, s"expected zero DDL, got: ${evs2.mkString(", ")}")
  }

  test("second openPlaid issues zero catalog DDL — clean AND " +
      "tombstoned layouts (the round-14 serving surface joins the " +
      "hygiene contract)") {
    val key = s"hyg-$runTag-plaid"
    val chunks = (0 until 48).map { i =>
      val theta = (i % 4) * 1.5 + (i / 4) * 0.01
      ((i / 3).toLong, i.toLong,
        Array(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }.toDF("doc_id", "vec_id", "embedding")
    PlaidIndex.ensurePlaid(spark, key, chunks, lists = 4, iters = 2)
    PlaidIndex.openPlaid(spark, key)
    val evs = ddlDuring { PlaidIndex.openPlaid(spark, key) }
    assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
    // tombstones appear: ONE registration on the next open, then zero
    PlaidIndex.deletePlaid(spark, key, Seq(2L).toDF("doc_id"))
    PlaidIndex.openPlaid(spark, key)
    val evs2 = ddlDuring { PlaidIndex.openPlaid(spark, key) }
    assert(evs2.isEmpty,
      s"tombstoned open did not stabilize: ${evs2.mkString(", ")}")
  }

  /** Run `body` with a listener on the Spark listener bus and return the
    * number of jobs it started. Listener events arrive asynchronously,
    * in order: a sentinel job run after `body` marks the point where
    * every job of `body` has been seen.
    */
  private def jobsDuring(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") ==
            "1")) sentinel.countDown()
        else started.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    started.get
  }

  /** The flat codec layouts: label, stem, and ensure / delete / upsert /
    * open verbs over a 64-row fixture (the upsert re-adds deleted id 5).
    * PQ and OPQ have no delete or upsert verb.
    */
  private val flatCodecs = Seq[(String, String, String => Any,
      Option[String => Any], Option[String => Any], String => Any)](
    ("SQ8", "sq8",
      key => AnnIndex.ensureSq8(spark, key, vecs(64), storageBuckets = 2),
      Some(key => AnnIndex.deleteSq8(spark, key, Seq(5L).toDF("vec_id"))),
      Some(key => AnnIndex.upsertSq8(spark, key,
        vecs(64).filter(col("vec_id") === 5L), storageBuckets = 2)),
      key => AnnIndex.openSq8(spark, key)),
    ("BQ", "bq",
      key => AnnIndex.ensureBq(spark, key, vecs(64), storageBuckets = 2),
      Some(key => AnnIndex.deleteBq(spark, key, Seq(5L).toDF("vec_id"))),
      Some(key => AnnIndex.upsertBq(spark, key,
        vecs(64).filter(col("vec_id") === 5L), storageBuckets = 2)),
      key => AnnIndex.openBq(spark, key)),
    ("LSH", "lsh",
      key => AnnIndex.ensureLsh(spark, key, vecs(64), tables = 2, bits = 2,
        storageBuckets = 2),
      Some(key => AnnIndex.deleteLsh(spark, key, Seq(5L).toDF("vec_id"))),
      Some(key => AnnIndex.upsertLsh(spark, key,
        vecs(64).filter(col("vec_id") === 5L), tables = 2, bits = 2,
        storageBuckets = 2)),
      key => AnnIndex.openLsh(spark, key)),
    ("PQ", "pq",
      key => AnnIndex.ensurePq(spark, key, vecs(64), numSub = 2, ksub = 4,
        storageBuckets = 2),
      None, None, key => AnnIndex.openPq(spark, key)),
    ("OPQ", "opq",
      key => AnnIndex.ensureOpq(spark, key, vecs(64), numSub = 2, ksub = 4,
        storageBuckets = 2),
      None, None, key => AnnIndex.openOpq(spark, key)))

  // the flat upserts re-derive the tombs registration before their
  // tombstone clash check, like the IVF ones below
  for ((label, layout, ensure, Some(delete), Some(upsert), _) <- flatCodecs)
    test(s"$label upsert refuses an id tombstoned by another session") {
      val key = s"hyg-$runTag-$layout-fx"
      ensure(key)
      delete(key)
      spark.sql(s"DROP TABLE IF EXISTS graft_${layout}_tombs_" +
        IndexStore.pathTag(key))
      val e = intercept[IllegalArgumentException] { upsert(key) }
      assert(e.getMessage.contains("tombstoned"))
    }

  // the flat layouts share one open path: no DDL and no Spark job once
  // the registration matches the store, tombstoned or not (PQ and OPQ
  // have no delete verb)
  flatCodecs.foreach { case (label, layout, ensure, delete, _, open) =>
    test(s"second open of the $label layout issues zero catalog DDL and " +
        "runs zero Spark jobs — clean" +
        delete.fold("")(_ => " AND tombstoned")) {
      val key = s"hyg-$runTag-$layout-fo"
      ensure(key)
      open(key)
      var jobs = -1
      val evs = ddlDuring { jobs = jobsDuring(open(key)) }
      assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
      assert(jobs === 0)
      delete.foreach { d =>
        d(key)
        open(key)
        val evs2 = ddlDuring { jobs = jobsDuring(open(key)) }
        assert(evs2.isEmpty,
          s"tombstoned open did not stabilize: ${evs2.mkString(", ")}")
        assert(jobs === 0)
      }
    }
  }

  /** The IVF codec layouts and float IVF: label, stem, and ensure /
    * delete / upsert / open verbs over a 64-row fixture (the upsert
    * re-adds deleted id 5).
    */
  private val ivfCodecs = Seq[(String, String, String => Any, String => Any,
      String => Any, String => Any)](
    ("IVF-SQ8", "ivfsq8",
      key => AnnIndex.ensureIvfSq8(spark, key, vecs(64), lists = 4,
        iters = 2),
      key => AnnIndex.deleteIvfSq8(spark, key, Seq(5L).toDF("vec_id")),
      key => AnnIndex.upsertIvfSq8(spark, key,
        vecs(64).filter(col("vec_id") === 5L), lists = 4, iters = 2),
      key => AnnIndex.openIvfSq8(spark, key)),
    ("IVF-BQ", "ivfbq",
      key => AnnIndex.ensureIvfBq(spark, key, vecs(64), lists = 4,
        iters = 2),
      key => AnnIndex.deleteIvfBq(spark, key, Seq(5L).toDF("vec_id")),
      key => AnnIndex.upsertIvfBq(spark, key,
        vecs(64).filter(col("vec_id") === 5L), lists = 4, iters = 2),
      key => AnnIndex.openIvfBq(spark, key)),
    ("IVF-PQ", "ivfpq",
      key => AnnIndex.ensureIvfPq(spark, key, vecs(64), lists = 4,
        iters = 2, numSub = 2, ksub = 4),
      key => AnnIndex.deleteIvfPq(spark, key, Seq(5L).toDF("vec_id")),
      key => AnnIndex.upsertIvfPq(spark, key,
        vecs(64).filter(col("vec_id") === 5L)),
      key => AnnIndex.openIvfPq(spark, key)),
    ("IVF", "ivf",
      key => AnnIndex.ensureIvf(spark, key, vecs(64), lists = 4, iters = 2),
      key => AnnIndex.deleteIvf(spark, key, Seq(5L).toDF("vec_id")),
      key => AnnIndex.upsertIvf(spark, key,
        vecs(64).filter(col("vec_id") === 5L), lists = 4, iters = 2),
      key => AnnIndex.openIvf(spark, key)))

  // the IVF upserts re-derive the tombs registration before their
  // tombstone clash check: a delete another session committed while
  // this one held the lists/vecs registration must still refuse the
  // re-insert (the anti-join would silently swallow it)
  ivfCodecs.foreach { case (label, layout, ensure, delete, upsert, _) =>
    test(s"$label upsert refuses an id tombstoned by another session") {
      val key = s"hyg-$runTag-$layout-x"
      ensure(key)
      delete(key)
      // simulate a foreign session's delete commit by dropping only the
      // local tombs registration
      spark.sql(s"DROP TABLE IF EXISTS graft_${layout}_tombs_" +
        IndexStore.pathTag(key))
      val e = intercept[IllegalArgumentException] { upsert(key) }
      assert(e.getMessage.contains("tombstoned"))
    }
  }

  test("second openSq8 and openIvf issue zero catalog DDL") {
    val key = s"hyg-$runTag-q"
    AnnIndex.ensureSq8(spark, key, vecs(64))
    AnnIndex.openSq8(spark, key)
    val e1 = ddlDuring { AnnIndex.openSq8(spark, key) }
    assert(e1.isEmpty, s"got: ${e1.mkString(", ")}")
    AnnIndex.ensureIvf(spark, key, vecs(64), lists = 4, iters = 2)
    AnnIndex.openIvf(spark, key)
    val e2 = ddlDuring { AnnIndex.openIvf(spark, key) }
    assert(e2.isEmpty, s"got: ${e2.mkString(", ")}")
  }

  // the IVF layouts share one open path: zero DDL and no Spark job on a
  // clean layout, and again once a delete's tombs registration has
  // settled
  ivfCodecs.foreach { case (label, layout, ensure, delete, _, open) =>
    test(s"second open of the $label layout issues zero catalog DDL — " +
        "clean AND tombstoned layouts") {
      val key = s"hyg-$runTag-$layout-o"
      ensure(key)
      open(key)
      var jobs = -1
      val evs = ddlDuring { jobs = jobsDuring(open(key)) }
      assert(evs.isEmpty, s"expected zero DDL, got: ${evs.mkString(", ")}")
      assert(jobs === 0)
      delete(key)
      open(key)
      val evs2 = ddlDuring { jobs = jobsDuring(open(key)) }
      assert(evs2.isEmpty,
        s"tombstoned open did not stabilize: ${evs2.mkString(", ")}")
      assert(jobs === 0)
    }
  }

  // a partitioned table re-attaches from the footer schema plus its
  // partition column typed from the dir names (no inference job): the
  // DDL must give the schema inference gives
  Seq[(String, String, String, String => Any, String => Any)](
    ("IVF", "graft_ann_ivf_%s/lists", "graft_ivf_lists_%s",
      key => AnnIndex.ensureIvf(spark, key, vecs(64), lists = 4, iters = 2),
      key => AnnIndex.openIvf(spark, key)),
    ("IVF-PQ", "graft_ann_ivfpq_%s/lists", "graft_ivfpq_lists_%s",
      key => AnnIndex.ensureIvfPq(spark, key, vecs(64), lists = 4,
        iters = 2, numSub = 2, ksub = 4),
      key => AnnIndex.openIvfPq(spark, key)),
    ("PLAID", "graft_plaid_%s/lists", "graft_plaid_lists_%s",
      key => PlaidIndex.ensurePlaid(spark, key, vecs(48)
        .select((col("vec_id") / 3).cast("long").as("doc_id"), col("vec_id"),
          col("embedding")), lists = 4, iters = 2),
      key => PlaidIndex.openPlaid(spark, key))
  ).foreach { case (label, dir, table, ensure, open) =>
    test(s"the re-attached $label lists table has the inferred schema") {
      val key = s"hyg-$runTag-$label-schema"
      val tag = IndexStore.pathTag(key)
      ensure(key)
      spark.sql(s"DROP TABLE ${table.format(tag)}")
      open(key)
      assert(spark.table(table.format(tag)).schema === spark.read.parquet(
        s"${AnnIndex.annBase(spark)}/${dir.format(tag)}").schema)
    }
  }
}
