package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Small-file rewrite for a parquet table directory — the data half of the
  * Iceberg `rewrite_data_files` maintenance action, committed as a new
  * generation by [[VersionedTable.compact]].
  *
  * Long-running ingest (streaming micro-batches, per-run checkpoint
  * commits) accretes many small files; at 100 TB the scan-planning and
  * open() overhead of millions of tiny files dominates read cost, so
  * compaction is a first-class maintenance job, not a nicety.
  *
  * `rewrite` reads the table and redistributes it into
  * ceil(totalBytes/targetFileBytes) output tasks. A partitioned table —
  * one whose `name=value` directories Spark's reader discovers as
  * partition columns — is rewritten with the same partition columns: it
  * shuffles on (partition columns, row-hash salt), where the salt splits a
  * LARGE partition value across many tasks (each writes its own
  * ~target-sized file into that partition's directory), so the directory
  * layout — and with it partition pruning and every later per-partition
  * overwrite — survives the rewrite.
  *
  * Row multiset is unchanged (parquet table semantics carry no row order);
  * `CompactionSpec` asserts content equality and the file-count drop.
  */
object Compact {

  final case class Result(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** (path, length) of every data file, from one listing of each directory
    * ([[VersionedTable.filesUnder]]) — the statuses already carry the
    * length, so no per-file re-stat (millions of files = millions of
    * avoided namenode/object-store RPCs). A file counts when no component
    * of its path below `dir` is hidden, as in Spark's reader: a
    * generation's `_batches` manifest and a killed write's
    * `.spark-staging-*` directory are not data.
    */
  private[pipeline] def dataFiles(spark: SparkSession, dir: String): Seq[(Path, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
      VersionedTable.filesUnder(fs, root).collect {
        case f if !f.getPath.toUri.getPath.stripPrefix(prefix).split('/')
            .exists(n => n.startsWith("_") || n.startsWith(".")) => (f.getPath, f.getLen)
      }
    }
  }

  /** Read `srcDir`, redistribute into ~target-sized files, write to
    * `destDir`. Returns (source data-file count, source total bytes).
    */
  private[pipeline] def rewrite(
      spark: SparkSession,
      srcDir: String,
      destDir: String,
      targetFileBytes: Long): (Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    val before = dataFiles(spark, srcDir)
    val totalBytes = before.map(_._2).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    val df = spark.read.parquet(srcDir)
    val partitionBy = partitionColumns(df)
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
        // drop them from the rewritten generation
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

  /** The partition columns Spark's reader discovered for a table read. */
  private def partitionColumns(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect { case fs: HadoopFsRelation => fs.partitionSchema.fieldNames.toSeq }.getOrElse(Nil)

  private[pipeline] def countDataFiles(spark: SparkSession, dir: String): Int =
    dataFiles(spark, dir).size
}
