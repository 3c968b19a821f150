package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generation-versioned parquet table — the snapshot half of an Iceberg
  * table re-expressed over a plain directory, built so MAINTENANCE REWRITES
  * ARE INVISIBLE TO CONCURRENT READERS. Its `reuseOrInstall` is the "reuse
  * or rebuild by input identity" protocol of
  * [[graft.operators.DedupState]] (the persisted LSH band/signature state),
  * `DedupOps.curationRunStaged` (CurateMain's durable feature stage) and
  * [[ExportMain]]; its `install` commits every rebuild of the persisted ANN
  * index ([[graft.operators.AnnIndex]]) and the empty generation a
  * resumable extraction ([[Checkpoint]]) starts from. It is the only commit
  * protocol in the engine: rebuilds install generations, and appends into a
  * generation commit through its manifest.
  *
  * Layout:
  * {{{
  *   <root>/gen-00000001/  ... data + _committed marker
  *   <root>/gen-00000002/  ... data + _batches/ manifest + _committed marker
  * }}}
  *
  * The directory name deliberately uses `gen-N`, not `gen=N`: Spark's
  * partition discovery claims ANY `name=value` directory as a partition
  * column, even when it is meant as plumbing.
  *
  * Install (marker-after-data): a writer creates the next `gen-N`
  * directory, writes data into it, and only then writes the non-empty
  * `_committed` marker (an empty marker, the footprint of a kill
  * mid-create, reads as absent). The marker records the generation's
  * [[Tag]]: the writer's format and the digest of the input it was built
  * from. Readers resolve the HIGHEST committed generation (of their
  * format); a crashed install is an uncommitted directory no reader ever
  * sees, swept by the next successful install.
  *
  * Append (manifest-after-data, the Iceberg append snapshot): a committed
  * generation is immutable except for manifest-committed appends by its
  * single writer. The writer puts an append's data files into the
  * generation, then `appendManifest` adds the append's rows (its key and
  * payload: a group's lineage, a batch id and its digest) to the
  * generation's `_batches` manifest as one file. That file is the commit;
  * readers consult `readManifest` and see only committed appends. The
  * `_` prefix keeps the manifest out of `spark.read.parquet(gen)`. Its row
  * layout belongs to the generation's format: a layout change bumps the
  * [[Tag]] format.
  *
  * Reader safety: installation never touches the live generation — the
  * old directory stays readable, byte-identical, until retention removes
  * it. A reader that resolved gen N keeps reading gen N while gen N+1
  * commits; the next resolve sees N+1. There is no instant at which
  * `resolve` can observe a missing or partially-written table, and no
  * maintenance job renames a path away.
  *
  * Retention: `install`/`compact` keep the newest `keepGenerations`
  * committed generations (default 2) and drop older ones plus any stale
  * uncommitted debris. As with Iceberg's `expire_snapshots`, a reader must
  * finish within the retention horizon — one full rewrite cycle by default.
  *
  * Single writer per root: two concurrent installs could allocate the same
  * generation number, and an append into gen N that races an install of
  * gen N+1 (a rebuild, a compaction) lands in the superseded generation, so
  * its commit is lost to every later reader. Readers are unrestricted.
  */
object VersionedTable {

  /** What a generation was built from: the writer's format (its version,
    * plus any build setting that changes the output, such as the export's
    * shard count) and the [[digestOf]] of its input directory. Both are
    * empty for a generation not derived from an input (a plain `install`).
    */
  final case class Tag(format: String = "", input: String = "")

  private val GenRe = "^gen-(\\d{8})$".r
  private def genName(n: Int): String = f"gen-$n%08d"
  private def marker(gen: Path): Path = new Path(gen, "_committed")

  /** A marker's trimmed value, or None when it is absent or empty: a marker
    * that exists but is empty, the footprint of a kill between create and
    * write, reads as absent, never as a third state.
    */
  private def readMarker(fs: FileSystem, path: Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      Option(raw).filter(_.nonEmpty)
    }

  private def writeMarker(fs: FileSystem, path: Path, value: String): Unit = {
    val out = fs.create(path, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All generations present under root, committed (Some(tag)) or not. The
    * marker holds the generation number, then the tag's two fields, one a
    * line; a marker without them reads as the empty tag.
    */
  private def generations(fs: FileSystem, root: Path): Seq[(Int, Path, Option[Tag])] = {
    if (!fs.exists(root)) Seq.empty
    else
      fs.listStatus(root).toSeq.collect {
        case st if st.isDirectory =>
          st.getPath.getName match {
            case GenRe(n) =>
              val tag = readMarker(fs, marker(st.getPath)).map { v =>
                val f = v.split("\n", -1).lift
                Tag(f(1).getOrElse(""), f(2).getOrElse(""))
              }
              Some((n.toInt, st.getPath, tag))
            case _ => None
          }
        case _ => None
      }.flatten.sortBy(_._1)
  }

  /** The newest committed generation, of `format` when one is given. */
  private def tip(fs: FileSystem, root: String, format: Option[String]): Option[(Path, Tag)] =
    generations(fs, new Path(root)).collect {
      case (_, p, Some(t)) if format.forall(_ == t.format) => (p, t)
    }.lastOption

  /** Path of the newest committed generation (of `format`, if given), or
    * None for an empty/new root.
    */
  def resolve(spark: SparkSession, root: String, format: Option[String] = None): Option[String] =
    tip(fsOf(spark, root), root, format).map(_._1.toString)

  /** The newest committed generation of any format, with its [[Tag]]. */
  def resolveTagged(spark: SparkSession, root: String): Option[(String, Tag)] =
    tip(fsOf(spark, root), root, None).map { case (p, t) => (p.toString, t) }

  /** Read the current generation as a DataFrame (fails on an empty root). */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(resolve(spark, root).getOrElse(
      sys.error(s"versioned table $root has no committed generation")))

  /** Install the next generation: `write(genDir)` produces the data, the
    * commit marker (carrying `tag`) lands after it returns, then retention
    * prunes. Returns the committed generation directory. Works for initial
    * creation too (an empty root commits gen 1).
    */
  def install(spark: SparkSession, root: String, keepGenerations: Int = 2, tag: Tag = Tag())(
      write: String => Unit): String = {
    require(keepGenerations >= 1, s"keepGenerations must be >= 1, got $keepGenerations")
    val rootPath = new Path(root)
    val fs = fsOf(spark, root)
    val next = generations(fs, rootPath).lastOption.map(_._1 + 1).getOrElse(1)
    val genDir = new Path(rootPath, genName(next))
    fs.delete(genDir, true) // stale debris from a crashed prior install
    write(genDir.toString)
    writeMarker(fs, marker(genDir), Seq(next.toString, tag.format, tag.input).mkString("\n"))
    prune(fs, rootPath, keepGenerations)
    // filesystem-qualified, matching what resolve returns (listStatus paths
    // carry the scheme; an unqualified sibling string would compare unequal)
    fs.makeQualified(genDir).toString
  }

  /** The manifest of generation `gen`: its committed appends. */
  def manifestDir(gen: String): String = s"$gen/_batches"

  /** Commit an append into generation `gen`: `rows` land in its manifest
    * as ONE parquet file, which is the append's commit. The caller has
    * written the append's data into `gen` before.
    */
  def appendManifest(gen: String, rows: DataFrame): Unit =
    rows.coalesce(1).write.mode(SaveMode.Append).parquet(manifestDir(gen))

  /** The committed manifest rows of `gen`, read with the caller's declared
    * `schema` (no schema-inference job), or None when nothing was ever
    * appended: a caller with an empty manifest plans no query at all.
    */
  def readManifest(spark: SparkSession, gen: String, schema: StructType): Option[DataFrame] =
    readHidden(spark, manifestDir(gen), Some(schema))

  /** The flat parquet table in the `_`-prefixed directory `dir` (a
    * manifest, an index's `_centroids` or `_codebooks`), read by its
    * visible data files, or None when it has none; `schema`, when given,
    * skips inference. Naming the directory itself would make Spark's reader
    * log "All paths were ignored" on every read, because its path filter
    * hides `_` names even at the root.
    *
    * Cost: one `listStatus` of `dir`, then Spark checks and lists each
    * named file again, about 2N + 1 status calls for N files where the
    * directory read makes about two. Above Spark's parallel-discovery
    * threshold (32 files) naming the files would start a listing job with a
    * task per file (HiddenDirReadSpec counts the job; on local disk it
    * took 200-430 ms against 12-18 ms for the directory read of 33 files,
    * and 32 named files 14-30 ms against 8-11 ms), so such a table is
    * read as the directory and still logs the warning: a streaming index
    * sink's manifest after 33 micro-batches is one.
    */
  private[graft] def readHidden(spark: SparkSession, dir: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val listed = try fsOf(spark, dir).listStatus(new Path(dir)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val files = listed.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.toString)
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val paths = if (files.size > threshold) Seq(dir) else files
    Option.when(files.nonEmpty)(schema.fold(spark.read)(spark.read.schema).parquet(paths: _*))
  }

  /** Reuse the committed tip if it is of `format` and was built from this
    * input, else install a new generation from it. Only the newest committed
    * generation is a candidate: an older one of the same format is
    * superseded, so `a → b → a` installs three generations, never serves
    * the first again. The tip is reused when its format matches and the
    * input is unreachable (decommissioned after the build: the commit is
    * the truth) or its [[digestOf]] equals the recorded one; a refreshed
    * input installs a new generation instead of serving a stale one. An
    * unreachable input whose tip is not of `format` fails fast. Returns
    * (generation dir, whether it was installed now).
    */
  def reuseOrInstall(spark: SparkSession, root: String, format: String, inputDir: String,
      keepGenerations: Int = 2)(write: String => Unit): (String, Boolean) = {
    val digest = digestOf(spark, inputDir)
    tip(fsOf(spark, root), root, None) match {
      case Some((gen, t)) if t.format == format && digest.forall(_ == t.input) =>
        (gen.toString, false)
      case _ =>
        require(digest.isDefined, s"cannot build $root: $inputDir/documents.parquet " +
          s"unreachable and no committed tip of format $format")
        (install(spark, root, keepGenerations, Tag(format, digest.get))(write), true)
    }
  }

  /** File-metadata fingerprint of `<dir>/documents.parquet` — path plus
    * per-file length and mtime, no data scan — as an MD5 digest, or None
    * when the input is unreachable (decommissioned: callers trust their
    * committed generation). The listing is RECURSIVE: a partitioned
    * documents.parquet keeps its data in subdirectories, and a top-level
    * listing would degenerate the fingerprint to a constant.
    */
  private def digestOf(spark: SparkSession, dir: String): Option[String] = {
    val docsPath = new Path(s"$dir/documents.parquet")
    val docsFs = docsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val parts = filesUnder(docsFs, docsPath)
        .map(f => s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}")
      val id = s"$dir\n${parts.sorted.mkString("\n")}"
      Some(java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Every file under `path` (or `path` itself when it is a file), by one
    * `listStatus` per directory. Not `FileSystem.listFiles`: its
    * `LocatedFileStatus` copies each file's permission, owner and group,
    * which Hadoop's local file system loads by forking `ls -ld` per file
    * when libhadoop is absent; a plain status loads them only when asked.
    * Throws FileNotFoundException when `path` does not exist.
    */
  private[pipeline] def filesUnder(fs: FileSystem, path: Path): Seq[FileStatus] =
    fs.listStatus(path).toSeq.flatMap { st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st)
    }

  /** Drop all but the newest `keep` committed generations, and any
    * uncommitted directory that is not the newest entry (a crashed install
    * below the tip can never be completed — its number is burned).
    */
  private def prune(fs: FileSystem, root: Path, keep: Int): Unit = {
    val gens = generations(fs, root)
    val keepNums = gens.filter(_._3.isDefined).takeRight(keep).map(_._1).toSet
    gens.foreach { case (n, p, tag) =>
      val stale = if (tag.isDefined) !keepNums.contains(n) else n < gens.last._1
      if (stale) fs.delete(p, true)
    }
  }

  /** Reader-safe compaction (the Iceberg `rewrite_data_files` action):
    * rewrite the tip's data into the next generation at ~targetFileBytes
    * per file, under the partition columns the reader discovers on the tip
    * ([[Compact.rewrite]]), copy the tip's manifest into it, commit with the
    * tip's tag carried forward, prune. Concurrent readers of the old
    * generation are undisturbed. Like every install it is a writer: an
    * append into the tip that races it is lost (see the object doc).
    */
  def compact(
      spark: SparkSession,
      root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      keepGenerations: Int = 2): Compact.Result = {
    val fs = fsOf(spark, root)
    val (cur, tag) = tip(fs, root, None).getOrElse(
      sys.error(s"versioned table $root has no committed generation to compact"))
    var stats = (0, 0L)
    val installed = install(spark, root, keepGenerations, tag) { dest =>
      stats = Compact.rewrite(spark, cur.toString, dest, targetFileBytes)
      val manifest = new Path(manifestDir(cur.toString))
      if (fs.exists(manifest))
        FileUtil.copy(fs, manifest, fs, new Path(manifestDir(dest)), false,
          spark.sparkContext.hadoopConfiguration)
    }
    Compact.Result(stats._1, Compact.countDataFiles(spark, installed), stats._2)
  }
}
