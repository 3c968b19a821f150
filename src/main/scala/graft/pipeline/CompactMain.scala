package graft.pipeline

/** Table-maintenance entrypoint (the Iceberg `rewrite_data_files` job):
  *
  *   spark-submit --class graft.pipeline.CompactMain \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <tableRoot> [targetFileMB]
  *
  * Compacts the committed tip of a [[VersionedTable]] root (an
  * `ExtractMain` outDir, for one) into ~targetFileMB files, installed as
  * the next generation with the tip's manifest carried over
  * ([[VersionedTable.compact]]): readers of the old generation are
  * undisturbed. A partitioned tip (extraction output's `grp=` directories)
  * is rewritten with the partition columns the reader discovers on it, so
  * partition pruning and later per-group commits survive the rewrite. A
  * root with no committed generation fails before anything is written. The
  * job is a writer of the root: an extraction run racing it loses its
  * commit.
  */
object CompactMain {
  private val Usage = "usage: CompactMain <tableRoot> [targetFileMB]"

  /** `(tableRoot, targetFileMB)`; bad arguments fail with the usage line. */
  private[pipeline] def parseArgs(args: Array[String]): (String, Int) = {
    MainArgs.arity(args, Usage)
    (args(0), args.lift(1).fold(128)(MainArgs.positiveInt("targetFileMB", _, Usage)))
  }

  def main(args: Array[String]): Unit = {
    val (root, targetMb) = parseArgs(args)
    MainArgs.launch("graft-compact") { spark =>
      val r = VersionedTable.compact(spark, root, targetMb.toLong * 1024 * 1024)
      println(s"[compact] $root: ${r.filesBefore} files -> ${r.filesAfter} (${r.bytes} bytes)")
    }
  }
}
