package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Table-maintenance entrypoint (the Iceberg `rewrite_data_files` job):
  *
  *   spark-submit --class graft.pipeline.CompactMain \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <tableDir> [targetFileMB] [partitionCol[,partitionCol...]]
  *
  * Compacts a parquet table's small files into ~targetFileMB files via
  * write-new + atomic swap (kill-safe: either the old or the new table is
  * visible, never a mix). Pass the partition columns of a partitioned
  * table (e.g. `grp` for a Checkpoint spans table) so the directory layout
  * — and with it partition pruning — survives the rewrite.
  */
object CompactMain {
  private val Usage = "usage: CompactMain <tableDir> [targetFileMB] [partitionCols]"

  /** `(tableDir, targetFileMB, partitionCols)`; bad arguments fail with the
    * usage line.
    */
  private[pipeline] def parseArgs(args: Array[String]): (String, Int, Seq[String]) = {
    require(args.nonEmpty && args.length <= 3, Usage)
    (args(0), args.lift(1).fold(128)(MainArgs.positiveInt("targetFileMB", _, Usage)),
      args.lift(2).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def main(args: Array[String]): Unit = {
    val (dir, targetMb, partCols) = parseArgs(args)

    val spark = SparkSession.builder()
      .appName("graft-compact")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = Compact.compact(spark, dir, targetMb.toLong * 1024 * 1024, partCols)
    println(s"[compact] $dir: ${r.filesBefore} files -> ${r.filesAfter} " +
      s"(${r.bytes} bytes${if (partCols.nonEmpty) s", partitions preserved: ${partCols.mkString(",")}" else ""})")
    spark.stop()
  }
}
