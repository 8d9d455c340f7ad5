package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The store-file kernel on its own: the small-file commit and read,
  * the swap with its stale-leftover sweep, the journaled replace — and
  * a source scan that keeps every other file off the raw primitives.
  */
class StoreFilesSpec extends AnyFunSuite {

  private val pid = ProcessHandle.current.pid

  private def fresh(): Path = Files.createTempDirectory("storefiles")

  private def dir(p: Path, files: String*): Path = {
    Files.createDirectories(p)
    files.foreach(f => Files.writeString(p.resolve(f), f))
    p
  }

  private def names(p: Path): Set[String] = {
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("commit round-trips number, string and list fields in order") {
    val f = fresh().resolve("_m.json")
    StoreFiles.commit(f, "n_rows" -> 12L, "snapshot_id" -> "s-1",
      "last_batch_id" -> -1L, "buckets" -> Seq(0, 3), "dim" -> 64)
    assert(Files.readString(f) === """{"n_rows": 12, """ +
      """"snapshot_id": "s-1", "last_batch_id": -1, "buckets": [0, 3], """ +
      """"dim": 64}""")
    assert(StoreFiles.readNums(f) ===
      Map("n_rows" -> 12L, "last_batch_id" -> -1L, "dim" -> 64L))
    assert(StoreFiles.readStrs(f) === Map("snapshot_id" -> "s-1"))
    assert(StoreFiles.lists(Files.readString(f)) ===
      Map("buckets" -> Seq(0L, 3L)))
    StoreFiles.commit(f, "n_rows" -> 13L)
    assert(StoreFiles.readNums(f) === Map("n_rows" -> 13L))
  }

  test("an absent file reads as empty") {
    val f = fresh().resolve("nested/_m.json")
    assert(StoreFiles.read(f) === None)
    assert(StoreFiles.readNums(f) === Map.empty)
    assert(StoreFiles.readStrs(f) === Map.empty)
    StoreFiles.commit(f, "k" -> 1L) // creates the missing parent
    assert(StoreFiles.readNums(f) === Map("k" -> 1L))
  }

  test("a temp file left by an interrupted commit is never read as the " +
      "meta, and the next commit goes through") {
    val d = fresh()
    val f = d.resolve("_m.json")
    val tmp = d.resolve(s"_m.json.tmp$pid")
    Files.writeString(tmp, """{"n_rows": 99""") // died mid-write
    assert(StoreFiles.readNums(f) === Map.empty)
    StoreFiles.commit(f, "n_rows" -> 1L)
    Files.writeString(tmp, """{"n_rows": 99""")
    assert(StoreFiles.readNums(f) === Map("n_rows" -> 1L))
    StoreFiles.commit(f, "n_rows" -> 2L)
    assert(StoreFiles.readNums(f) === Map("n_rows" -> 2L))
    assert(names(d) === Set("_m.json"))
  }

  test("the required-field error names the label, the file and the " +
      "field") {
    val f = fresh().resolve("_manifest.json")
    Files.writeString(f, """{"n_rows": 12""")
    val m = StoreFiles.readNums(f)
    assert(StoreFiles.required(m, "n_rows", "manifest", f) === 12L)
    val e = intercept[IllegalStateException](
      StoreFiles.required(m, "checksum", "manifest", f))
    assert(e.getMessage.contains("corrupt manifest"))
    assert(e.getMessage.contains(f.toString))
    assert(e.getMessage.contains("checksum"))
  }

  test("swap sweeps every stale leftover of its live dir, and only " +
      "those, before it swaps") {
    val b = fresh()
    dir(b.resolve("fps"), "old")
    Seq(s"fps__garbage_$pid", "fps__garbage_1", "fps_old_2", "fps_old",
        "fps_compact_3", "fps__compact")
      .foreach(n => dir(b.resolve(n), "stale"))
    // not this dir's leftovers: journaled sides, another live dir's
    val kept = Seq("fps__side_4", "fps__purge_5", "fps2__garbage_6",
      "sigs__compact", "_dedup_meta.json.tmp7")
    kept.foreach(n => dir(b.resolve(n), "x"))
    dir(b.resolve("fps_compact_8"), "new")
    StoreFiles.swap(s"$b/fps", s"$b/fps_compact_8")
    assert(names(b) === kept.toSet + "fps")
    assert(names(b.resolve("fps")) === Set("new"))
  }

  test("swap with keep = false leaves live absent; an absent live dir " +
      "takes the side") {
    val b = fresh()
    dir(b.resolve("assign"), "old")
    dir(b.resolve("assign__compact"), "new")
    StoreFiles.swap(s"$b/assign", s"$b/assign__compact", keep = false)
    assert(names(b) === Set.empty)
    dir(b.resolve("data_new"), "new")
    StoreFiles.swap(s"$b/data", s"$b/data_new")
    assert(names(b) === Set("data"))
    assert(names(b.resolve("data")) === Set("new"))
  }

  test("replace deletes live and renames the side in; keep = false " +
      "deletes both; rmPrefixed removes only prefixed entries") {
    val b = fresh()
    dir(b.resolve("live"), "old")
    dir(b.resolve("side"), "new")
    StoreFiles.replace(b.resolve("live"), b.resolve("side"))
    assert(names(b) === Set("live"))
    assert(names(b.resolve("live")) === Set("new"))
    dir(b.resolve("side"), "newer")
    StoreFiles.replace(b.resolve("live"), b.resolve("side"), keep = false)
    assert(names(b) === Set.empty)
    Seq("linedf__purge_1", "linedf__purge_2", "linedf")
      .foreach(n => dir(b.resolve(n), "x"))
    StoreFiles.rmPrefixed(b, "linedf__purge_")
    assert(names(b) === Set("linedf"))
    StoreFiles.rm(b.resolve("absent")) // a no-op
  }

  test("source scan: no file under src/main/scala but the kernel moves " +
      "or deletes store files with the raw primitives") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val kernel = root.resolve("graft/sources/StoreFiles.scala")
    val banned =
      Seq("ATOMIC_MOVE", "Files.move(", "FileUtils.deleteDirectory")
    val s = Files.walk(root)
    val hits = try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != kernel)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally s.close()
    assert(hits === Nil, "commit or swap through StoreFiles instead")
  }
}
