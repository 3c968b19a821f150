package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny single-value marker files (format versions, input digests, commit
  * flags) with ONE shared crash-robustness rule: a marker that exists but
  * is empty — the footprint of a kill between create and write — reads as
  * ABSENT, never as a distinct (and unserviceable) third state. Every
  * marker in the codebase goes through here — the `_committed` marker of a
  * `VersionedTable` generation and the `_format` marker of a delta-batch
  * manifest are the only two (`MarkerInventorySpec` pins that) — so the
  * recovery semantics cannot diverge between call sites.
  */
object Markers {

  /** Some(trimmed contents) if the marker exists and is non-empty. */
  def read(fs: FileSystem, path: Path): Option[String] = {
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      if (raw.isEmpty) None else Some(raw)
    }
  }

  def write(fs: FileSystem, path: Path, value: String): Unit = {
    require(value.trim.nonEmpty, s"refusing to write an empty marker at $path")
    val out = fs.create(path, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }
}
