package graft.sources

import graft.TestSpark
import graft.operators.Governance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A crashed swap leaves its garbage dir behind (`<live>__garbage_<pid>`,
  * or IndexStore.incremental's `data_old`). Containers reuse pids, so a
  * later JVM can get the crashed one's pid back: every side-dir swap
  * verb must sweep such a leftover instead of failing on it forever.
  * Each row builds the same store twice, plants the leftover under the
  * current pid in one copy, runs the verb on both, and requires equal
  * answers, equal store contents and no swap leftover afterwards.
  */
class SwapLeftoverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pid = ProcessHandle.current.pid
  private val runTag = java.util.UUID.randomUUID.toString.take(8)

  private def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")
  private val batch1 = docs(1L -> "alpha beta gamma delta",
    2L -> "alpha beta gamma delta", 3L -> "BOILER\nepsilon zeta eta")
  private val batch2 = docs(4L -> "theta iota kappa lambda",
    5L -> "BOILER\nmu nu xi omicron", 6L -> "alpha beta gamma delta")
  private def ids(xs: Long*): DataFrame = xs.toDF("doc_id")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def dedupBase(key: String) =
    s"${AnnIndex.annBase(spark)}/graft_dedupstore_${IndexStore.pathTag(key)}"
  private def storeBase(kind: String, key: String) =
    s"${AnnIndex.annBase(spark)}/graft_${kind}_${IndexStore.pathTag(key)}"

  /** One verb under test. `key` names the store copy (a store key, or a
    * dir for the path-addressed IndexStore and purge log).
    */
  private case class Case(name: String, seed: String => Unit,
      lives: String => Seq[String], verb: String => Any,
      read: String => Any,
      leftover: String => String = live => s"${live}__garbage_$pid")

  private def seenCase(name: String, verb: String => Any) =
    Case(name,
      key => {
        DedupStore.dedupBatch(spark, key, batch1, batchId = 1L)
        DedupStore.dedupBatch(spark, key, batch2, batchId = 2L)
      },
      key => Seq(s"${dedupBase(key)}/fps"), verb,
      key => (rows(DedupStore.readSeen(spark, key)),
        DedupStore.seenCount(spark, key)))

  private def nearCase(name: String, verb: String => Any) =
    Case(name,
      key => {
        DedupStore.nearDedupBatch(spark, key, batch1, batchId = 1L)
        DedupStore.nearDedupBatch(spark, key, batch2, batchId = 2L)
      },
      key => Seq(s"${dedupBase(key)}_near/bands",
        s"${dedupBase(key)}_near/sigs"), verb,
      key => {
        val (bands, sigs) = DedupStore.readNearFrames(spark, key)
        (rows(bands), rows(sigs))
      })

  private def splitCase(name: String, verb: String => Any) =
    Case(name,
      key => {
        SplitStore.assign(spark, key, ids(2L, 4L, 6L),
          Seq((2L, 4L)).toDF("doc_id_a", "doc_id_b"), batchId = 1L)
        SplitStore.assign(spark, key, ids(1L, 9L),
          Seq((1L, 2L)).toDF("doc_id_a", "doc_id_b"), batchId = 2L)
      },
      key => Seq(s"${storeBase("splitstore", key)}/assign"), verb,
      key => rows(SplitStore.read(spark, key)))

  private def indexCase(name: String, verb: String => Any,
      leftover: String => String) =
    Case(name,
      dir => IndexStore.write(batch1.union(batch2)
        .withColumn("doc_hash", xxhash64(col("text"))), dir),
      dir => Seq(s"$dir/data"), verb,
      dir => rows(IndexStore.read(spark, dir)), leftover)

  private val cases = Seq(
    seenCase("DedupStore.compactSeen",
      key => DedupStore.compactSeen(spark, key)),
    seenCase("DedupStore.expireSeen",
      key => DedupStore.expireSeen(spark, key, keepFromBatchId = 2L)),
    seenCase("DedupStore.purgeDocs",
      key => DedupStore.purgeDocs(spark, key, ids(1L, 4L))),
    nearCase("DedupStore.compactNear",
      key => DedupStore.compactNear(spark, key)),
    nearCase("DedupStore.expireNear",
      key => DedupStore.expireNear(spark, key, keepFromBatchId = 2L)),
    nearCase("DedupStore.purgeNear",
      key => DedupStore.purgeNear(spark, key, ids(1L, 4L))),
    Case("DedupStore.compactLineDedup",
      key => {
        DedupStore.lineDedupBatch(spark, key, batch1, batchId = 1L,
          maxDf = 4)
        DedupStore.lineDedupBatch(spark, key, batch2, batchId = 2L,
          maxDf = 4)
      },
      key => Seq(s"${dedupBase(key)}_lines/linedf"),
      key => DedupStore.compactLineDedup(spark, key),
      key => (rows(DedupStore.readLineDf(spark, key)),
        DedupStore.lineCount(spark, key))),
    splitCase("SplitStore.compact", key => SplitStore.compact(spark, key)),
    splitCase("SplitStore.purge",
      key => SplitStore.purge(spark, key, ids(4L, 9L))),
    Case("SketchStore.compactPanes",
      key => Seq(1L, 2L).foreach { b =>
        SketchStore.update(spark, key,
          (1 to 40).map(i => (s"g${i % 2}", s"item${i * b}"))
            .toDF("grp", "it"), "grp", col("it"), b, k = 8, seed = 3L)
      },
      key => Seq(s"${storeBase("sketchstore", key)}/panes"),
      key => SketchStore.compactPanes(spark, key),
      key => SketchStore.read(spark, key).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap),
    indexCase("IndexStore.purge",
      dir => IndexStore.purge(spark, dir, ids(2L, 5L)),
      live => s"${live}__garbage_$pid"),
    indexCase("IndexStore.incremental",
      dir => rows(IndexStore.incremental(spark,
        docs(1L -> "alpha beta gamma delta", 7L -> "pi rho sigma"), dir)(
        d => d.withColumn("doc_hash", xxhash64(col("text"))))),
      live => Paths.get(live).resolveSibling("data_old").toString),
    Case("Governance.compactPurgeLog",
      dir => {
        val key = s"$dir-dedup"
        DedupStore.dedupBatch(spark, key, batch1, batchId = 1L)
        val scope = Governance.PurgeScope(dedupSeen = Seq(key))
        Governance.purgeLogged(spark, ids(1L), scope, dir, batchId = 1L)
        Governance.purgeLogged(spark, ids(3L), scope, dir, batchId = 2L)
      },
      dir => Seq("roster", "receipt", "audit").map(t => s"$dir/$t"),
      dir => Governance.compactPurgeLog(spark, dir),
      // the receipt and audit rows name the per-copy dedup store
      dir => Seq("roster", "receipt", "audit").map(t =>
        rows(Governance.readPurgeLog(spark, dir, t).drop("store")))))

  /** Names a swap of `live` leaves behind when it is interrupted. */
  private def swapLeftovers(live: String): Seq[String] = {
    val l = Paths.get(live)
    val n = l.getFileName.toString
    val s = Files.list(l.getParent)
    try s.iterator().asScala.map(_.getFileName.toString).filter(e =>
        e.startsWith(s"${n}__garbage_") || e.startsWith(s"${n}_old") ||
          e.startsWith(s"${n}_compact") || e == s"${n}__compact")
      .toList
    finally s.close()
  }

  private def key(c: Case, copy: String): String = {
    val tag = s"${c.name}-$runTag-$copy"
    if (c.name.startsWith("IndexStore") || c.name.startsWith("Governance"))
      Files.createTempDirectory(tag).toString
    else s"swapleftover://$tag"
  }

  cases.foreach { c =>
    test(s"${c.name}: a garbage dir left by a crashed swap under this " +
        "pid is swept; answers equal a clean store's") {
      val (clean, planted) = (key(c, "clean"), key(c, "planted"))
      try {
        Seq(clean, planted).foreach(c.seed)
        c.lives(planted).foreach { live =>
          val g = Paths.get(c.leftover(live))
          Files.createDirectories(g)
          Files.writeString(g.resolve("part-0.parquet"), "stale")
        }
        val want = c.verb(clean)
        val got = c.verb(planted)
        assert(got === want)
        assert(c.read(planted) === c.read(clean))
        c.lives(planted).foreach(live =>
          assert(swapLeftovers(live) === Nil, live))
      } finally Seq(clean, planted).flatMap(c.lives)
        .map(l => Paths.get(l).getParent.toFile).distinct
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
  }
}
