package graft.sources

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Driver-side parquet schema plumbing for the engine's OWN store
  * layouts (guide §6: metadata work is driver-side, single-process —
  * it shows up as "nothing is running").
  *
  * `spark.read.parquet(dir)` runs schema INFERENCE on every call, and
  * inference schedules a footer-reading Spark job — measured 25–300 ms
  * of per-call latency on the store verbs (job scheduling dominates;
  * the footer itself is microseconds). Store-internal layouts are
  * written by this engine with one uniform schema per directory, so
  * ONE footer read on the driver — no job, no executor round-trip —
  * yields the identical schema, converted through Spark's own
  * `ParquetToSparkSchemaConverter` (honoring the same session conf the
  * inference path reads: timestamp/int96/nanos handling). JobProfile
  * measured the inference jobs at 30–45% of the purge/maintain panels'
  * wall time (q218/q225/q249) before this change.
  *
  * Correctness identical to inference by construction: Spark's own
  * non-mergeSchema inference also reads a single footer; partitioned
  * layouts declare their partition columns explicitly (exactly the
  * columns `partitionBy` dropped from the data files), appended at the
  * end — the same position directory-discovery puts them.
  */
private[graft] object ParquetIO {

  /** First data file under `dir` (recursing into partition dirs),
    * ignoring metadata/marker files.
    */
  private def firstParquetFile(dir: Path): Option[Path] = {
    // a single-FILE layout (the fixture tables are one parquet file
    // each) is its own footer source
    if (Files.isRegularFile(dir)) return Some(dir)
    if (!Files.isDirectory(dir)) return None
    val s = Files.walk(dir)
    try {
      val it = s.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.findFirst()
      if (it.isPresent) Some(it.get) else None
    } finally s.close()
  }

  /** Spark schema of the layout at `dir` from ONE footer read on the
    * driver. None when the dir holds no data file (absent layout, or a
    * compaction crash window — callers fall back to the plain read,
    * which raises Spark's own error shape).
    */
  private[sources] def footerSchema(spark: SparkSession,
      dir: String): Option[StructType] =
    try firstParquetFile(Paths.get(AnnIndex.normalizePath(dir))).map { f =>
      val conf = spark.sessionState.newHadoopConf()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val msg =
        try reader.getFooter.getFileMetaData.getSchema
        finally reader.close()
      // recursively nullable, exactly like inference: file-source
      // relations force asNullable on inferred schemas, and parquet
      // `required` fields would otherwise surface as nullable=false
      // here only (pinned by ParquetIOSpec)
      org.apache.spark.sql.GraftExprBridge.asNullable(
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(msg))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Partition-discovery listing threshold for the engine's hash/band-
    * bucketed store dirs (256 `hb=`/`bb=` leaf dirs): Spark schedules a
    * distributed LISTING job whenever a read touches more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
    * 32) directories — measured 250–500 ms of job latency per store
    * read on a local filesystem where the driver lists the same 256
    * dirs in single-digit ms. Raised (idempotently, the
    * ensureNanosAsLong pattern) to `spark.graft.io.listingThreshold`
    * (default 1024) ONLY while the user left Spark's default in place:
    * a deployment reading a many-thousand-partition store off object
    * storage wants the distributed listing back and gets it by setting
    * either conf explicitly.
    */
  private def tuneListing(spark: SparkSession): Unit = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if (spark.conf.get(key) == "32")
      spark.conf.set(key,
        spark.conf.get("spark.graft.io.listingThreshold", "1024"))
  }

  /** `spark.read.parquet(dir)` without the per-call schema-inference
    * job: footer-derived data columns plus the caller-declared
    * partition columns (the columns `partitionBy` dropped from the
    * files; directory discovery still binds their VALUES — only the
    * inference pass is skipped). Partition columns the caller does not
    * declare are still discovered and appended, with inferred types
    * (pinned by ParquetIOSpec). Falls back to the plain read when no
    * footer is readable so absent-layout errors keep their shape.
    */
  def read(spark: SparkSession, dir: String,
      partCols: Seq[StructField] = Nil): DataFrame = {
    tuneListing(spark)
    footerSchema(spark, dir) match {
      case Some(s) =>
        spark.read.schema(StructType(s.fields ++ partCols)).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }

  /** True iff `dir` holds at least one readable parquet footer — the
    * [[AnnIndex.parquetReadable]] probe without the inference job.
    */
  private[sources] def readableFooter(spark: SparkSession,
      dir: String): Boolean =
    footerSchema(spark, dir).isDefined
}
