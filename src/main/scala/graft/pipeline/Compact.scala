package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction for a parquet table directory — the Iceberg
  * `rewrite_data_files` maintenance action re-expressed over plain parquet.
  *
  * Long-running ingest (streaming micro-batches, per-group checkpoint
  * commits) accretes many small files; at 100 TB the scan-planning and
  * open() overhead of millions of tiny files dominates read cost, so
  * compaction is a first-class maintenance job, not a nicety.
  *
  * Protocol — write-new then swap, never in-place:
  *
  *   1. read the table, redistribute into ceil(totalBytes/targetFileBytes)
  *      output tasks. Partitioned tables shuffle on (partition columns,
  *      row-hash salt): the salt splits a LARGE partition value across
  *      many tasks (each writes its own ~target-sized file into that
  *      partition's directory), while the directory layout — and with it
  *      partition pruning — survives the rewrite;
  *   2. write to a sibling `<dir>__compact_tmp` directory;
  *   3. swap: rename old → `<dir>__compact_old`, tmp → dir, drop old.
  *
  * Crash safety: a kill during (1)/(2) leaves the original table untouched
  * (tmp is invisible). The swap itself has one unavoidable gap — between
  * the two renames the table path is briefly absent — so `compact` REPAIRS
  * on entry: if the table dir is missing but `__compact_old` exists, the
  * previous crashed swap is rolled back before anything else runs. Every
  * state is thus recoverable by re-running the job.
  *
  * CONCURRENCY: because of that absent-path window, the in-place swap is an
  * OFFLINE maintenance job — a reader racing the swap can fail with
  * path-not-found. Tables with always-on readers should live under a
  * [[VersionedTable]] root instead, where [[VersionedTable.compact]]
  * installs the rewrite as a new committed generation and readers never
  * observe a missing or half-written path.
  *
  * Row multiset is unchanged (parquet table semantics carry no row order);
  * `CompactionSpec` asserts content equality and the file-count drop.
  */
object Compact {

  final case class Result(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** (path, length) of every data file, from ONE recursive listing — the
    * LocatedFileStatus already carries the length, so no per-file re-stat
    * (millions of files = millions of avoided namenode/object-store RPCs).
    */
  private def dataFiles(spark: SparkSession, dir: String): Seq[(Path, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer[(Path, Long)]()
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) buf += ((f.getPath, f.getLen))
      }
      buf.toSeq
    }
  }

  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): Result = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"${dir}__compact_tmp"
    val old = s"${dir}__compact_old"

    // repair a crashed swap from a previous run: table dir missing but the
    // old table still parked aside -> roll it back, then proceed normally
    if (!fs.exists(new Path(dir)) && fs.exists(new Path(old)))
      require(fs.rename(new Path(old), new Path(dir)),
        s"compaction repair failed restoring $old to $dir; fix manually before re-running")
    fs.delete(new Path(tmp), true)

    val (filesBefore, totalBytes) = rewrite(spark, dir, tmp, targetFileBytes, partitionBy)

    // swap: old table aside, new table in, old table dropped
    fs.delete(new Path(old), true)
    if (!fs.rename(new Path(dir), new Path(old)))
      sys.error(s"compaction swap failed renaming $dir aside; table untouched")
    if (!fs.rename(new Path(tmp), new Path(dir))) {
      fs.rename(new Path(old), new Path(dir)) // roll back
      sys.error(s"compaction swap failed installing $tmp; original restored")
    }
    fs.delete(new Path(old), true)

    Result(filesBefore, dataFiles(spark, dir).size, totalBytes)
  }

  /** Read `srcDir`, redistribute into ~target-sized files, write to
    * `destDir`. Returns (source data-file count, source total bytes).
    * Shared by the in-place swap above and the versioned install in
    * [[VersionedTable.compact]].
    */
  private[pipeline] def rewrite(
      spark: SparkSession,
      srcDir: String,
      destDir: String,
      targetFileBytes: Long,
      partitionBy: Seq[String]): (Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    val before = dataFiles(spark, srcDir)
    val totalBytes = before.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    val df = spark.read.parquet(srcDir)
    val compacted =
      if (partitionBy.isEmpty) df.repartition(nOut)
      else {
        // (partition cols, row-hash salt) shuffle with a PER-PARTITION salt
        // modulus: each partition value gets ceil(itsBytes / target) salt
        // buckets, so an oversized partition splits across that many writer
        // tasks while a small one keeps ONE file. (A global modulus would
        // shatter every small partition into up to nOut shards — compaction
        // output with MORE files than its input.) Row counts come from
        // parquet metadata; the budget table is one row per partition value
        // (broadcast — bounded by partition count, as any planner is).
        val totalRows = df.count()
        val avgRowBytes = if (totalRows == 0) 1.0 else totalBytes.toDouble / totalRows
        val budgets = df.groupBy(partitionBy.map(col): _*).count()
          .withColumn("_saltN",
            greatest(lit(1L), ceil(col("count") * avgRowBytes / targetFileBytes).cast("long")))
          .drop("count")
          .withColumnsRenamed(partitionBy.map(c => c -> s"_b_$c").toMap)
        // NULL-SAFE join on the partition values: Hive's default partition
        // (a null value) must keep its rows — an equi-join would silently
        // drop them and the swap would delete the only copy
        val cond = partitionBy.map(c => df(c) <=> budgets(s"_b_$c")).reduce(_ && _)
        df.join(broadcast(budgets), cond)
          .withColumn("_salt",
            pmod(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)), col("_saltN")))
          .repartition(nOut, (partitionBy.map(col) :+ col("_salt")): _*)
          .drop(("_salt" +: "_saltN" +: partitionBy.map(c => s"_b_$c")): _*)
      }

    val w = compacted.write.mode(SaveMode.Overwrite)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(destDir)
    (before.size, totalBytes)
  }

  private[pipeline] def countDataFiles(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).size
}
