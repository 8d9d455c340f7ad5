package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.rag.{Embedder, RagPipeline}
import graft.sources.{AnnIndex, KeywordIndex}

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, ms: Double, items: Int, ok: Boolean,
    userBytes: Long = 0, rowsReturned: Long = 0, filesWritten: Long = 0,
    pendingDeltas: Long = 0, tombRows: Long = 0, counters: Counters = Counters())

final case class Loop(traced: Boolean, ops: Vector[Op], layoutBytes: Long,
    textBytes: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** Runs one workload on `local[cores]` with one closed-loop client and
  * writes the raw samples as JSON; `perfbench/run.py` turns them into
  * metrics. Usage:
  * {{{
  * RagBench <workload> <inputs.json> <runDir> <seconds> <trace 0|1>
  *          <cores> <out.json> <spans.jsonl>
  * }}}
  * Every store, warehouse and scratch directory lives under `runDir`.
  */
object RagBench {
  def main(argv: Array[String]): Unit = {
    require(argv.length == 8, "usage: RagBench <workload> <inputs.json> " +
      "<runDir> <seconds> <trace 0|1> <cores> <out.json> <spans.jsonl>")
    val Array(workload, inputs, runDir, seconds, trace, cores, out, spansOut) = argv
    val in = new ObjectMapper().readTree(new File(inputs))
    val w: Workload = workload match {
      case "ingest" => new Ingest(in)
      case "chat" => new Chat(in)
      case "churn" => new Churn(in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.runDir = Paths.get(runDir)
    w.cores = cores.toInt
    val res = w.run(seconds.toDouble, trace == "1")
    Files.writeString(Paths.get(out), res)
    if (trace == "1") Files.write(Paths.get(spansOut), w.spanLines.asJava)
    w.stop()
  }
}

abstract class Workload(val in: JsonNode) {
  var runDir: Path = _
  var cores: Int = 1
  var spark: SparkSession = _
  var tracer: Tracer = Tracer.off
  var spanLines: Seq[String] = Nil
  val chunkSize: Int = in.get("chunk_size").asInt()
  val checks = ArrayBuffer.empty[Check]

  /** Builds the prebuilt state the loop starts from. */
  def prepare(): Unit
  /** Runs the loop's code paths until latency settles; returns calls. */
  def warm(): Int
  /** The closed loop: ops until `seconds` of op time have been spent. */
  def loop(seconds: Double): Loop
  /** Puts the store back to the state `prepare` left (not timed). */
  def restore(): Unit = ()

  def dir(name: String): String = runDir.resolve(name).toString

  private def since(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Set-up is the session start, the prebuilt state and one warm-up;
    * then the untraced loop and, when tracing, a traced loop from the
    * restored state.
    */
  def run(seconds: Double, trace: Boolean): String = {
    val t0 = System.nanoTime()
    spark = newSession()
    val session = since(t0)
    val tp = System.nanoTime()
    prepare()
    val prepared = since(tp)
    val tw = System.nanoTime()
    val calls = warm()
    val warmS = since(tw)
    System.err.println(f"perfbench: session $session%.2fs prepare $prepared%.2fs " +
      f"warm-up $warmS%.2fs ($calls calls)")
    val loops = ArrayBuffer(loop(seconds))
    if (trace) {
      restore()
      tracer = Tracer.on(spark)
      loops += loop(seconds)
      tracer.detach()
      spanLines = tracer.spans.map(Json.span)
    }
    Json.result(session, prepared, warmS, calls, loops.toSeq, checks.toSeq,
      properties)
  }

  /** Drops every catalog registration; the stores are external tables,
    * so their files stay and the next open attaches from disk.
    */
  def dropTables(): Unit = {
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    spark.catalog.clearCache()
  }

  def properties: Map[String, Long] = Map.empty

  def stop(): Unit = if (spark != null) spark.stop()

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.graft.ann.basePath", dir("store"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Releases what an op pinned (checkpointed batches), outside timing. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def docsFrame(docs: Iterable[JsonNode]): DataFrame = {
    val rows = docs.map(d => Row(d.get("doc_id").asLong(), d.get("text").asText()))
    spark.createDataFrame(rows.toSeq.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))
  }

  def textBytes(docs: Iterable[JsonNode]): Long =
    docs.map(_.get("text").asText().getBytes("UTF-8").length.toLong).sum

  def arr(n: JsonNode): Vector[JsonNode] = n.elements().asScala.toVector

  /** Times `body` as one op; counters and spans are taken only when
    * tracing. A thrown exception makes the op failed, not the run.
    */
  def timed(kind: String, request: Int)(body: => Op): Op = {
    tracer.request = request
    val before = tracer.snapshot()
    val t0 = System.nanoTime()
    val op = try tracer.span(kind)(body) catch {
      case e: Exception =>
        checks += Check(s"$kind.error", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        Op(kind, 0, 0, ok = false)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    op.copy(ms = ms, counters = tracer.snapshot() - before)
  }

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checks += Check(name, ok, if (ok) "" else detail)
    ok
  }

  /** Files under `roots` as path → (size, mtime). */
  def listing(roots: String*): Map[String, (Long, Long)] =
    if (!tracer.enabled) Map.empty
    else roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { r =>
      Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap

  def filesWritten(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): Long =
    after.count { case (p, v) => !before.get(p).contains(v) }.toLong
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def copy(from: String, to: String): Unit = {
    delete(Paths.get(to))
    org.apache.commons.io.FileUtils.copyDirectory(new File(from), new File(to))
  }

  def bytes(root: String): Long = {
    val r = Paths.get(root)
    if (!Files.exists(r)) 0L
    else Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  /** Sum of `tomb_rows` over every store meta file under `root`. */
  def tombRows(root: String): Long = {
    val r = Paths.get(root)
    val re = "\"tomb_rows\"\\s*:\\s*(\\d+)".r
    if (!Files.exists(r)) 0L
    else Files.walk(r).iterator().asScala
      .filter(_.getFileName.toString == "_ann_meta.json")
      .flatMap(p => re.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong))
      .sum
  }
}

/** E1 bulk build: chunk + embed, write, then the SQ8, postings and
  * IVF-PQ layouts, each on a fresh store directory per iteration.
  */
final class Ingest(in: JsonNode) extends Workload(in) {
  private val docs = arr(in.get("docs"))
  private var docsDf: DataFrame = _
  private var chunks = 0L
  private var iteration = 0

  override def properties = Map("chunks" -> chunks, "text_bytes" -> textBytes(docs))

  def prepare(): Unit = docsDf = docsFrame(docs)

  /** One build over a prefix, so class loading and codegen of every
    * stage happen before the first timed build.
    */
  def warm(): Int = {
    build(docsFrame(docs.take(8)), "warmup")
    Fs.delete(Paths.get(dir("store")))
    release()
    1
  }

  /** One full E1 build; returns the chunk count it stored. */
  private def build(d: DataFrame, name: String): Long = {
    val t = tracer
    val src = dir(s"data/$name")
    // traced: buildIndex's two stages materialized one at a time
    val index =
      if (!t.enabled) RagPipeline.buildIndex(spark, d, chunkSize)
      else {
        val ch = t.span("text.chunk")(RagPipeline.chunkDocuments(spark, d, chunkSize)
          .toDF().localCheckpoint())
        t.span("rag.embed")(ch.withColumn("embedding",
          Embedder.embedCol(col("text"))).localCheckpoint())
      }
    t.span("sources.write_chunks")(index.write.parquet(s"$src/chunks"))
    val stored = spark.read.parquet(s"$src/chunks")
    val vecs = stored.select(col("chunk_id").as("vec_id"), col("embedding"))
    t.span("sources.ensure_sq8")(AnnIndex.ensureSq8(spark, src, vecs))
    t.span("sources.ensure_postings")(KeywordIndex.ensurePostings(
      spark, src, stored, idCol = "chunk_id", textCol = "text"))
    t.span("sources.ensure_ivfpq")(AnnIndex.ensureIvfPq(spark, src, vecs))
    stored.count()
  }

  def loop(seconds: Double): Loop = {
    val ops = ArrayBuffer.empty[Op]
    var spent = 0.0
    var layout = 0L
    while (spent < seconds * 1000) {
      iteration += 1
      val name = s"build$iteration"
      val before = listing(dir("store"), dir("data"))
      var n = 0L
      val op = timed("build", ops.size) {
        n = build(docsDf, name)
        Op("build", 0, n.toInt, ok = true, userBytes = textBytes(docs))
      }
      // checks and clean-up are outside the op's time
      val after = listing(dir("store"), dir("data"))
      val ok = op.ok && check("ingest.layout_rows", layoutRows(name, n),
        s"build $iteration: layout row counts differ from chunks=$n")
      if (chunks == 0) chunks = n
      layout = Fs.bytes(dir("store"))
      ops += op.copy(ok = ok, filesWritten = filesWritten(before, after))
      spent += op.ms
      Fs.delete(Paths.get(dir("store")))
      Fs.delete(Paths.get(dir(s"data/$name")))
      release()
    }
    Loop(tracer.enabled, ops.toVector, layout, textBytes(docs))
  }

  /** Row counts of the three stored layouts equal the chunk count. */
  private def layoutRows(name: String, n: Long): Boolean = {
    val src = dir(s"data/$name")
    Seq(AnnIndex.openSq8(spark, src).codes.count(),
      KeywordIndex.openPostings(spark, src).select("doc_id").distinct().count(),
      AnnIndex.openIvfPq(spark, src).lists.count()).forall(_ == n)
  }
}

/** Shared by the two read workloads: the corpus built once in set-up
  * into a chunk table and the stored layouts, and the question frames.
  */
abstract class Serving(in: JsonNode) extends Workload(in) {
  val docs: Vector[JsonNode] = arr(in.get("docs"))
  val src: String = "corpus"
  var index: DataFrame = _
  var chunks = 0L

  override def properties = Map("chunks" -> chunks, "text_bytes" -> textBytes(docs))

  def chunkTable: String = dir("data/chunks")

  /** Chunks + embeds the corpus and writes the chunk table `index` reads. */
  def buildChunks(): Unit = {
    RagPipeline.buildIndex(spark, docsFrame(docs), chunkSize).write
      .mode(SaveMode.Overwrite).parquet(chunkTable)
    index = spark.read.parquet(chunkTable)
    chunks = index.count()
  }

  def vecs: DataFrame = index.select(col("chunk_id").as("vec_id"), col("embedding"))

  def questions(qs: JsonNode, user: Long): DataFrame = {
    val rows = arr(qs).map(q =>
      Row(q.get("query_id").asLong(), user, q.get("text").asText()))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("query_text", StringType, nullable = false))))
  }

  /** query_id → (context, n_chunks), the answer a client receives. */
  def answers(ctx: DataFrame): Map[Long, (String, Long)] =
    ctx.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  /** Runs `req` until the last three latencies are within 25 % of each
    * other (at least 4, at most 8 calls); returns the number of calls.
    */
  def warmUp(req: Int => Unit): Int = {
    val lat = ArrayBuffer.empty[Double]
    def settled = lat.size >= 4 && {
      val last = lat.takeRight(3)
      last.max <= 1.25 * last.min
    }
    while (!settled && lat.size < 8) {
      val t0 = System.nanoTime()
      req(lat.size)
      lat += (System.nanoTime() - t0) / 1e6
    }
    release()
    lat.size
  }

  /** Seeded phase in [0, every): ops whose index has this phase are the
    * ones verified.
    */
  def phase(seed: Long, every: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.productHash(Tuple1(seed)), every)
}

/** E2 read path: adaptive answers from the prebuilt SQ8 store, with
  * profiles from each user's growing in-session history.
  */
final class Chat(in: JsonNode) extends Serving(in) {
  private val requests = arr(in.get("requests"))
  private val warmups = arr(in.get("warmup"))
  private val seed = in.get("seed").asLong()
  private val snapshot = Some("corpus-v1")
  private val histSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("question", StringType, nullable = false)))

  def prepare(): Unit = {
    buildChunks()
    AnnIndex.ensureSq8(spark, src, vecs, snapshotId = snapshot)
  }

  def warm(): Int = {
    val hist = scala.collection.mutable.Map.empty[Long, Vector[String]]
    warmUp(i => answer(warmups(i % warmups.size), hist))
  }

  private def user(r: JsonNode) = r.get("user_id").asLong()

  private def history(u: Long, hist: collection.Map[Long, Vector[String]]) =
    spark.createDataFrame(hist.getOrElse(u, Vector.empty).map(q => Row(u, q)).asJava,
      histSchema)

  /** One request: profiles over the user's prior turns, the adaptive
    * quantized retrieval, then context assembly; appends the questions
    * to the user's history. Returns the op and the answers served.
    */
  private def answer(r: JsonNode,
      hist: scala.collection.mutable.Map[Long, Vector[String]])
      : (Op, Map[Long, (String, Long)]) = {
    val u = user(r)
    val qs = arr(r.get("questions"))
    val q = questions(r.get("questions"), u)
    val retrieved = tracer.span("rag.call")(
      RagPipeline.adaptiveRetrieveQuantizedWithProfiles(spark, src, q,
        RagPipeline.profilesOf(history(u, hist)), index, snapshotId = snapshot))
    val ctx = tracer.span("rag.exec")(answers(RagPipeline.assembleContext(retrieved)))
    hist(u) = (hist.getOrElse(u, Vector.empty) ++ qs.map(_.get("text").asText()))
      .takeRight(32)
    (Op("read", 0, qs.size, ok = true, rowsReturned = ctx.values.map(_._2).sum), ctx)
  }

  def loop(seconds: Double): Loop = {
    val hist = scala.collection.mutable.Map.empty[Long, Vector[String]]
    val ops = ArrayBuffer.empty[Op]
    var spent = 0.0
    var verified = 0
    while (spent < seconds * 1000 && ops.size < requests.size) {
      val r = requests(ops.size)
      val u = user(r)
      val prior = hist.getOrElse(u, Vector.empty)
      var served = Map.empty[Long, (String, Long)]
      val op = timed("read", ops.size) {
        val (o, a) = answer(r, hist)
        served = a
        o
      }
      val tombs = if (tracer.enabled) Fs.tombRows(dir("store")) else 0L
      // verification outside the op's time: the served answers equal the
      // direct exact adaptiveRetrieve over the same index and history
      val ok = op.ok && (ops.size % 4 != phase(seed, 4) || verified >= 2 || {
        verified += 1
        val h = history(u, Map(u -> prior))
        val direct = answers(RagPipeline.assembleContext(RagPipeline.adaptiveRetrieve(
          questions(r.get("questions"), u), h, index)))
        check("chat.answer_equals_direct", served == direct,
          s"request ${ops.size}: served $served direct $direct")
      })
      ops += op.copy(ok = ok, tombRows = tombs)
      spent += op.ms
    }
    release()
    Loop(tracer.enabled, ops.toVector, Fs.bytes(dir("store")), textBytes(docs))
  }
}

/** Reads beside writes on the prebuilt hybrid store: served hybrid
  * reads interleaved with upsert batches, delete batches and periodic
  * compaction, in the generator's seeded order.
  */
final class Churn(in: JsonNode) extends Serving(in) {
  private val script = arr(in.get("ops"))
  private val cycle = in.get("cycle").asInt()
  private val readsPerCycle = script.take(cycle).count(_.get("op").asText() == "read")
  private val seed = in.get("seed").asLong()
  // client-side view of the store: every chunk ever stored, by doc, and
  // which docs are deleted
  private val chunksOf = scala.collection.mutable.Map.empty[Long, Vector[Long]]
  private val textOf = scala.collection.mutable.Map.empty[Long, Long]
  private val deleted = scala.collection.mutable.Set.empty[Long]
  private var pending = 0L

  private def pristine(name: String) = dir(s"pristine/$name")

  def prepare(): Unit = {
    buildChunks()
    AnnIndex.ensureSq8(spark, src, vecs)
    KeywordIndex.ensurePostings(spark, src, index, idCol = "chunk_id",
      textCol = "text")
    Fs.copy(dir("store"), pristine("store"))
    Fs.copy(chunkTable, pristine("chunks"))
    resetView()
  }

  /** Every write verb once, then reads until latency settles; the store
    * is restored afterwards.
    */
  def warm(): Int = {
    Seq("upsert", "delete", "compact")
      .flatMap(k => script.find(_.get("op").asText() == k)).foreach(runOp(_, -1))
    val reads = script.filter(_.get("op").asText() == "read")
    val calls = warmUp(i => runOp(reads(i % reads.size), -1))
    restore()
    calls + 3
  }

  override def restore(): Unit = {
    Fs.copy(pristine("store"), dir("store"))
    Fs.copy(pristine("chunks"), chunkTable)
    // registrations still list the replaced files: drop them and attach
    // afresh, so the first timed read does not pay the attach
    dropTables()
    AnnIndex.openSq8(spark, src)
    KeywordIndex.openPostings(spark, src)
    index = spark.read.parquet(chunkTable)
    resetView()
  }

  private def resetView(): Unit = {
    chunksOf.clear()
    deleted.clear()
    pending = 0
    index.select("doc_id", "chunk_id").collect()
      .groupBy(_.getLong(0)).foreach { case (d, rs) =>
        chunksOf(d) = rs.map(_.getLong(1)).toVector.sorted }
    textOf.clear()
    docs.foreach(d => textOf(d.get("doc_id").asLong()) =
      d.get("text").asText().getBytes("UTF-8").length.toLong)
  }

  private def ids(xs: Iterable[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    xs.toSeq.toDF("chunk_id")
  }

  private def aliveIds: Iterable[Long] =
    chunksOf.iterator.filterNot(kv => deleted(kv._1)).flatMap(_._2).toVector

  /** One scripted op against the store, as the client issues it. */
  private def apply(o: JsonNode): Op = o.get("op").asText() match {
    case "read" =>
      val qs = o.get("questions")
      val retrieved = tracer.span("rag.call")(RagPipeline.hybridRetrieveQuantizedOpen(
        spark, src, questions(qs, 0L).drop("user_id"), index, k = 4))
      val ctx = tracer.span("rag.exec")(answers(RagPipeline.assembleContext(retrieved)))
      Op("read", 0, qs.size(), ok = true, rowsReturned = ctx.values.map(_._2).sum)
    case "upsert" =>
      val newDocs = arr(o.get("docs"))
      val batch = tracer.span("rag.build")(RagPipeline.buildIndex(spark,
        docsFrame(newDocs), chunkSize).localCheckpoint())
      tracer.span("sources.upsert") {
        AnnIndex.upsertSq8(spark, src,
          batch.select(col("chunk_id").as("vec_id"), col("embedding")))
        KeywordIndex.upsertPostings(spark, src, batch, idCol = "chunk_id",
          textCol = "text")
      }
      tracer.span("sources.write_chunks")(
        batch.write.mode(SaveMode.Append).parquet(chunkTable))
      index = spark.read.parquet(chunkTable)
      upserted = batch
      pending += 1
      Op("upsert", 0, 0, ok = true, userBytes = textBytes(newDocs))
    case "delete" =>
      val victims = arr(o.get("doc_ids")).map(_.asLong())
      val gone = victims.flatMap(chunksOf(_))
      tracer.span("sources.delete")(RagPipeline.hybridDeleteQuantized(spark, src, ids(gone)))
      deleted ++= victims
      pending += 1
      Op("delete", 0, gone.size, ok = true)
    case "compact" =>
      tracer.span("sources.compact") {
        AnnIndex.compactSq8(spark, src)
        KeywordIndex.compactPostings(spark, src)
      }
      pending = 0
      Op("compact", 0, 0, ok = true)
  }

  private var upserted: DataFrame = _

  /** Runs `o` as a timed op, then records what an upsert stored. */
  private def runOp(o: JsonNode, i: Int): Op = {
    val op = timed(o.get("op").asText(), i)(apply(o))
    if (op.ok && o.get("op").asText() == "upsert") {
      val added = upserted.select("doc_id", "chunk_id").collect()
      added.groupBy(_.getLong(0)).foreach { case (d, rs) =>
        chunksOf(d) = rs.map(_.getLong(1)).toVector.sorted }
      arr(o.get("docs")).foreach(d => textOf(d.get("doc_id").asLong()) =
        d.get("text").asText().getBytes("UTF-8").length.toLong)
      op.copy(items = added.length)
    } else op
  }

  /** Served chunk ids of `qs`, for verification. */
  private def servedIds(qs: JsonNode): Set[(Long, Int, Long)] =
    RagPipeline.hybridRetrieveQuantizedOpen(spark, src,
      questions(qs, 0L).drop("user_id"), index, k = 4)
      .select("query_id", "rank", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** Verifies `o` after it ran (never inside its time). */
  private def verify(i: Int, o: JsonNode, readNo: Int): Boolean =
    o.get("op").asText() match {
      case "read" if readNo == phase(seed, readsPerCycle) =>
        val qs = o.get("questions")
        val survivors = index.join(ids(aliveIds), Seq("chunk_id"), "left_semi")
        val direct = RagPipeline.hybridRetrieve(questions(qs, 0L).drop("user_id"),
          survivors, k = 4)
        val directIds = direct.select("query_id", "rank", "chunk_id").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val served = servedIds(qs)
        val dead = deleted.flatMap(chunksOf(_)).toSet
        check("churn.read_equals_direct_over_survivors", served == directIds,
          s"op $i: served $served direct $directIds") &
          check("churn.deleted_never_served", !served.exists(s => dead(s._3)),
            s"op $i: served deleted ids ${served.filter(s => dead(s._3))}")
      case "upsert" =>
        val added = arr(o.get("docs")).flatMap(d => chunksOf(d.get("doc_id").asLong()))
        val (c, p) = storedCounts(added)
        check("churn.upserted_servable", c == added.size && p == added.size,
          s"op $i: ${added.size} upserted, sq8 serves $c, postings serve $p")
      case "delete" =>
        val gone = arr(o.get("doc_ids")).flatMap(d => chunksOf(d.asLong()))
        val (c, p) = storedCounts(gone)
        check("churn.deleted_not_servable", c == 0 && p == 0,
          s"op $i: ${gone.size} deleted, sq8 still serves $c, postings $p")
      case _ => true
    }

  /** How many of `xs` the opened SQ8 and postings layouts serve. */
  private def storedCounts(xs: Seq[Long]): (Long, Long) = {
    val want = ids(xs)
    (AnnIndex.openSq8(spark, src).codes
      .join(want.withColumnRenamed("chunk_id", "vec_id"), Seq("vec_id"), "left_semi").count(),
      KeywordIndex.openPostings(spark, src).select(col("doc_id").as("chunk_id")).distinct()
        .join(want, Seq("chunk_id"), "left_semi").count())
  }

  def loop(seconds: Double): Loop = {
    val ops = ArrayBuffer.empty[Op]
    var spent = 0.0
    var reads = 0 // reads issued so far in this loop
    // time is checked only between cycles, so every run has the same mix
    while (ops.size < script.size && (ops.size % cycle != 0 || spent < seconds * 1000)) {
      val i = ops.size
      val o = script(i)
      val read = o.get("op").asText() == "read"
      val (deltas, tombs) =
        if (tracer.enabled && read) (pending, Fs.tombRows(dir("store"))) else (0L, 0L)
      val before = listing(dir("store"), chunkTable)
      val op = runOp(o, i)
      val after = listing(dir("store"), chunkTable)
      val ok = op.ok && verify(i, o, reads)
      if (read) reads += 1
      ops += op.copy(ok = ok, filesWritten = filesWritten(before, after),
        pendingDeltas = deltas, tombRows = tombs)
      spent += op.ms
      release()
    }
    val liveText = textOf.iterator.filterNot(kv => deleted(kv._1)).map(_._2).sum
    Loop(tracer.enabled, ops.toVector, Fs.bytes(dir("store")), liveText)
  }
}

/** Hand-rolled JSON for the raw result and the span file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def counters(c: Counters): String = obj(Seq(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "exec_run_ms" -> c.execRunMs, "shuffle_bytes" -> c.shuffleBytes,
    "bytes_written" -> c.bytesWritten, "broadcasts" -> c.broadcasts,
    "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
    "planning_ms" -> c.planningMs, "codegen_compiles" -> c.codegenCompiles,
    "codegen_ns" -> c.codegenNs, "gc_ms" -> c.gcMs,
    "rows_scored" -> c.rowsScored).map { case (k, v) => k -> v.toString })

  private def op(o: Op): String = obj(Seq(
    "kind" -> str(o.kind), "ms" -> o.ms.toString, "items" -> o.items.toString,
    "ok" -> o.ok.toString, "user_bytes" -> o.userBytes.toString,
    "rows_returned" -> o.rowsReturned.toString,
    "files_written" -> o.filesWritten.toString,
    "pending_deltas" -> o.pendingDeltas.toString,
    "tomb_rows" -> o.tombRows.toString, "counters" -> counters(o.counters)))

  def span(s: Span): String = obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
    "parent" -> s.parent.toString, "request" -> s.request.toString))

  def result(session: Double, prepared: Double, warm: Double, calls: Int,
      loops: Seq[Loop], checks: Seq[Check], props: Map[String, Long]): String = obj(Seq(
    "setup" -> obj(Seq("session_s" -> session.toString,
      "prepare_s" -> prepared.toString,
      "warmup_s" -> warm.toString, "warmup_calls" -> calls.toString)),
    "properties" -> obj(props.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
    "loops" -> loops.map(l => obj(Seq("traced" -> l.traced.toString,
      "layout_bytes" -> l.layoutBytes.toString, "text_bytes" -> l.textBytes.toString,
      "ops" -> l.ops.map(op).mkString("[", ", ", "]")))).mkString("[", ", ", "]"),
    "checks" -> checks.map(c => obj(Seq("name" -> str(c.name),
      "ok" -> c.ok.toString, "detail" -> str(c.detail)))).mkString("[", ", ", "]")))
}
