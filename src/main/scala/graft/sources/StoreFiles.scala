package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The store-file kernel: the two file protocols every persisted store
  * (the AnnIndex layouts and their keyword/PLAID/impact/graph/tokenizer
  * siblings, the dedup, split, sketch, SCD2 and index stores, the purge
  * log, the contract gate and the lineage manifest) commits through.
  * No store moves, renames or deletes a store file any other way.
  *
  * COMMIT — a small JSON file (`{"k": 1, "s": "x"}`: meta, manifest,
  * journal) lands via `<file>.tmp<pid>` and an atomic rename over the
  * old one ([[commit]]).
  *
  *  - Crash while the temp file is written: `<file>` still holds the
  *    previous complete commit (or is absent — the empty store). The
  *    temp file is never read; the next commit from the same pid
  *    overwrites it, another pid's is a few inert bytes.
  *  - The rename is atomic: a reader sees the old or the new commit,
  *    never a truncated one. Stores write data first and commit the
  *    meta last, so a crash before the rename leaves data the meta does
  *    not name, which each store's own replay or rebuild rule covers.
  *
  * SWAP — a rewritten dir replaces a live one ([[swap]]): a sweep of the
  * live dir's stale leftovers (`<name>__garbage_*`, `<name>_old_*`,
  * `<name>_old`, `<name>__compact`, `<name>_compact_*`, except the side
  * being swapped in), then live → `<name>__garbage_<pid>`, side → live
  * (or the side is dropped when the kept set is empty: an absent dir is
  * the empty store), then the garbage is deleted.
  *
  *  - Crash while the side is written: live is intact; the partial
  *    side is a leftover the next swap of that dir sweeps (or the
  *    store's own rewrite of a fixed side name overwrites).
  *  - Crash between the two renames: live is missing. This window is
  *    not journaled, and nothing rolls it forward: each store's read
  *    guard fails loudly on the missing dir (the AnnIndex `ensure*`
  *    paths read it as stale and rebuild), never as an empty store.
  *  - Crash after the second rename: live is complete; the garbage is
  *    a leftover the next swap of that dir sweeps, whatever pid wrote
  *    it, so a recycled pid never collides with it.
  *
  * JOURNALED swaps ([[BucketSwap]], the dedup line-purge) commit a
  * journal naming their side dir before they touch live and move with
  * [[replace]]: delete live, rename side in. A crash anywhere after the
  * journal leaves a state their `recover` rolls forward from the
  * journal; their side dirs (`<live>__side_*`, `linedf__purge_*`) match
  * no sweep pattern, so only that recovery removes them.
  */
private[graft] object StoreFiles {

  // ------------------------------------------------------------ commit

  /** `{"k": v, ...}` in the given order: strings quoted, sequences as
    * `[1, 2]`, anything else (numbers) bare.
    */
  private def json(fields: (String, Any)*): String = fields.map {
    case (k, s: String) => s""""$k": "$s""""
    case (k, xs: Seq[_]) => s""""$k": ${xs.mkString("[", ", ", "]")}"""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")

  /** Atomically replace `file` with [[json]] of `fields`. */
  def commit(file: Path, fields: (String, Any)*): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(
      s"${file.getFileName}.tmp${ProcessHandle.current.pid}")
    Files.writeString(tmp, json(fields: _*))
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed text of `file`; None when it is absent. */
  def read(file: Path): Option[String] =
    if (Files.exists(file)) Some(Files.readString(file)) else None

  private val NumField = "\"([a-zA-Z_]+)\"\\s*:\\s*(-?\\d+)".r
  private val StrField = "\"([a-zA-Z_]+)\"\\s*:\\s*\"([^\"]*)\"".r
  private val ListField = "\"([a-zA-Z_]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r

  /** The numeric fields of a committed text. */
  def nums(text: String): Map[String, Long] =
    NumField.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** The string fields of a committed text. */
  def strs(text: String): Map[String, String] =
    StrField.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap

  /** The integer-list fields of a committed text. */
  def lists(text: String): Map[String, Seq[Long]] =
    ListField.findAllMatchIn(text).map(m => m.group(1) ->
      "-?\\d+".r.findAllIn(m.group(2)).map(_.toLong).toSeq).toMap

  /** The numeric fields of `file`; empty when it is absent. */
  def readNums(file: Path): Map[String, Long] =
    read(file).fold(Map.empty[String, Long])(nums)

  /** The string fields of `file`; empty when it is absent. */
  def readStrs(file: Path): Map[String, String] =
    read(file).fold(Map.empty[String, String])(strs)

  /** `fields(key)`, or an IllegalStateException naming the `label`led
    * `file` and the missing field: a present file without a field its
    * reader needs is corrupt, never read as a default.
    */
  def required[V](fields: Map[String, V], key: String, label: String,
      file: Path): V =
    fields.getOrElse(key, throw new IllegalStateException(
      s"corrupt $label at $file (missing $key)"))

  // -------------------------------------------------------------- swap

  /** Swap the rewritten `side` dir in as `live` (see the object doc);
    * `keep = false` drops the side instead, leaving live absent. An
    * absent live dir skips the first rename.
    */
  def swap(live: String, side: String, keep: Boolean = true): Unit = {
    val l = Paths.get(live)
    val liveExists = sweep(l, Paths.get(side).getFileName.toString)
    val garbage = l.resolveSibling(
      s"${l.getFileName}__garbage_${ProcessHandle.current.pid}")
    if (liveExists) Files.move(l, garbage)
    if (keep) Files.move(Paths.get(side), l) else rm(side)
    if (liveExists) rm(garbage)
  }

  /** Remove `live`'s stale swap leftovers, except `sideName`, in one
    * listing of its parent; true iff `live` itself exists.
    */
  private def sweep(live: Path, sideName: String): Boolean = {
    val n = live.getFileName.toString
    val leftover = Seq(s"${n}__garbage_", s"${n}_old_", s"${n}_compact_")
    var liveExists = false
    entries(live.getParent).foreach { p =>
      val e = p.getFileName.toString
      if (e == n) liveExists = true
      else if (e != sideName && (e == s"${n}_old" ||
          e == s"${n}__compact" || leftover.exists(e.startsWith)))
        rm(p)
    }
    liveExists
  }

  /** A journaled swap's move: delete `live`, then rename `side` in
    * atomically (`keep = false` deletes the side instead). Idempotent
    * for a recovery that re-runs it while `side` exists.
    */
  def replace(live: Path, side: Path, keep: Boolean = true): Unit = {
    rm(live)
    if (keep) Files.move(side, live, StandardCopyOption.ATOMIC_MOVE)
    else rm(side)
  }

  /** Remove every entry of `dir` whose name starts with `prefix` — a
    * journaled swap's orphan side dirs, swept only when no journal
    * names them.
    */
  def rmPrefixed(dir: Path, prefix: String): Unit =
    entries(dir).filter(_.getFileName.toString.startsWith(prefix))
      .foreach(p => rm(p))

  private def entries(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Delete a dir tree; a no-op when it is absent. */
  def rm(dir: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)

  def rm(dir: String): Unit = rm(Paths.get(dir))
}
