package graft.util

import org.apache.spark.sql.SparkSession

/** File-metadata fingerprint of an input corpus directory — the identity a
  * resumable job records so a committed stage/export is only reused for
  * the EXACT input it was computed from (path + per-file length + mtime,
  * no data scan). Shared by `VersionedTable.reuseOrInstall` (the dedup
  * state and the curation stage) and `ExportMain`; they must agree or the
  * curation stage could refresh while the export's no-op check still
  * matches, and vice versa.
  */
object InputIdentity {

  /** Some(identity string) if `<dir>/documents.parquet` is reachable;
    * None if the input has been decommissioned (resume-from-stage-alone —
    * callers trust their committed marker in that case).
    */
  private def of(spark: SparkSession, dir: String): Option[String] = {
    val docsPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val docsFs = docsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // RECURSIVE listing: a partitioned documents.parquet keeps its data
      // in subdirectories — a top-level-only listing would see nothing
      // and the fingerprint would degenerate to a constant
      val it = docsFs.listFiles(docsPath, true)
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile)
          parts += s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}"
      }
      Some(s"$dir\n${parts.sorted.mkString("\n")}")
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** MD5 digest of the identity string, or None for an unreachable input. */
  def digestOf(spark: SparkSession, dir: String): Option[String] =
    of(spark, dir).map { id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
}
