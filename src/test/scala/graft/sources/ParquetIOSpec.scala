package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the invariant the whole ParquetIO sweep rests on: the
  * driver-side single-footer schema equals Spark's own inference for
  * every layout shape the engine reads through it — plain columns,
  * float/double array columns, binary codes, a hash-bucketed
  * `hb=`-partitioned store dir, and the single-file fixture tables
  * (including the TIMESTAMP handling `Tables.load` normalizes).
  */
class ParquetIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"pio_$name")
    d.toFile.deleteOnExit()
    s"$d/$name"
  }

  private def assertFooterMatches(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val footer = ParquetIO.footerSchema(spark, path)
    assert(footer.isDefined, s"no footer read at $path")
    assert(footer.get == inferred,
      s"footer schema != inferred schema at $path:\n" +
        s"footer:   ${footer.get.treeString}\ninferred: ${inferred.treeString}")
  }

  test("footer schema == inferred schema: plain, array, binary layouts") {
    val plain = tmp("plain")
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "s", "x")
      .write.parquet(plain)
    assertFooterMatches(plain)

    val arrays = tmp("arrays")
    Seq((1L, Seq(1.0f, 2.0f), Seq(1.0, 2.0)))
      .toDF("id", "emb_f", "emb_d").write.parquet(arrays)
    assertFooterMatches(arrays)

    val bin = tmp("bin")
    Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "codes").write.parquet(bin)
    assertFooterMatches(bin)
  }

  test("footer schema + declared partition cols == inferred schema on a " +
      "hash-bucketed store dir") {
    val store = tmp("store")
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 0))
      .toDF("id", "s", "hb").write.partitionBy("hb").parquet(store)
    val inferred = spark.read.parquet(store).schema
    val footer = ParquetIO.footerSchema(spark, store)
    assert(footer.isDefined)
    // data columns identical; the read path appends the declared
    // partition columns at the end — the same position discovery uses
    val declared = org.apache.spark.sql.types.StructType(
      footer.get.fields :+ inferred("hb"))
    assert(declared == inferred,
      s"declared:\n${declared.treeString}\ninferred:\n${inferred.treeString}")
    // and the full read round-trips the same rows
    val viaIo = ParquetIO.read(spark, store, Seq(inferred("hb")))
    assert(viaIo.schema == inferred)
    assert(viaIo.orderBy("id").collect().toSeq ==
      spark.read.parquet(store).orderBy("id").collect().toSeq)
  }

  test("read without declared partition cols still discovers a " +
      "partitioned dir's partition columns") {
    val store = tmp("undeclared")
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 0))
      .toDF("id", "s", "hb").write.partitionBy("hb").parquet(store)
    val viaIo = ParquetIO.read(spark, store)
    assert(viaIo.schema == spark.read.parquet(store).schema)
    assert(viaIo.orderBy("id").collect().toSeq ==
      spark.read.parquet(store).orderBy("id").collect().toSeq)
  }

  test("footer schema == inferred schema on every fixture table") {
    graft.Tables.ensureNanosAsLong(spark)
    graft.Tables.names.foreach { n =>
      assertFooterMatches(s"${TestSpark.Sf0001}/$n.parquet")
    }
  }
}
