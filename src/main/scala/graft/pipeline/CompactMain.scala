package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Table-maintenance entrypoint (the Iceberg `rewrite_data_files` job):
  *
  *   spark-submit --class graft.pipeline.CompactMain \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <tableRoot> [targetFileMB] [partitionCol[,partitionCol...]]
  *
  * Compacts the committed tip of a [[VersionedTable]] root (an
  * `ExtractMain` outDir, for one) into ~targetFileMB files, installed as
  * the next generation with the tip's manifest carried over
  * ([[VersionedTable.compact]]): readers of the old generation are
  * undisturbed. Pass the partition columns of a partitioned table (e.g.
  * `grp` for extraction output) so the directory layout — and with it
  * partition pruning — survives the rewrite. A root with no committed
  * generation fails before anything is written. The job is a writer of the
  * root: an extraction run racing it loses its commit.
  */
object CompactMain {
  private val Usage = "usage: CompactMain <tableRoot> [targetFileMB] [partitionCols]"

  /** `(tableRoot, targetFileMB, partitionCols)`; bad arguments fail with the
    * usage line.
    */
  private[pipeline] def parseArgs(args: Array[String]): (String, Int, Seq[String]) = {
    require(args.nonEmpty && args.length <= 3, Usage)
    (args(0), args.lift(1).fold(128)(MainArgs.positiveInt("targetFileMB", _, Usage)),
      args.lift(2).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def main(args: Array[String]): Unit = {
    val (root, targetMb, partCols) = parseArgs(args)

    val spark = SparkSession.builder()
      .appName("graft-compact")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = VersionedTable.compact(spark, root, targetMb.toLong * 1024 * 1024, partCols)
    println(s"[compact] $root: ${r.filesBefore} files -> ${r.filesAfter} " +
      s"(${r.bytes} bytes${if (partCols.nonEmpty) s", partitions preserved: ${partCols.mkString(",")}" else ""})")
    spark.stop()
  }
}
