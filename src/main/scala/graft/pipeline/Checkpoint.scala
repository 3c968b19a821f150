package graft.pipeline

import graft.model.{Doc, Lineage}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Resumable, idempotent extraction runs — Iceberg MERGE-on-doc_id semantics
  * over plain Parquet (the local jars carry no Iceberg runtime; SURVEY.md §4.2).
  *
  * Commit unit = "group" = `pmod(xxhash64(doc_id), numGroups)` — the stand-in
  * for an Iceberg partition commit. For each group:
  *
  *   1. spans written with dynamic partition-overwrite into `out/spans/grp=g`
  *      (job-level atomic; a killed mid-group job leaves nothing visible, a
  *      re-run *overwrites* the group rather than appending → idempotent even
  *      if the previous run died between data commit and lineage commit);
  *   2. lineage rows appended to `out/lineage` (this append IS the group's
  *      commit marker).
  *
  * On resume, groups present in the lineage table are skipped entirely — the
  * observable behavior of `MERGE INTO spans ON doc_id`: reprocessing a doc
  * never duplicates it, because extraction is deterministic and a group is
  * rewritten wholesale.
  *
  * A run touches its input once: `ExtractJob`'s kernel stage runs over the
  * docs of every group still to do, tagged with each doc's group, and is
  * persisted (MEMORY_AND_DISK) for the whole run. The lineage of all those
  * groups is one aggregate over `(grp, partition_id)`, collected as at
  * most groups × partitions rows. Each group then commits from the cache:
  * its spans write is one filter over the cached stage (no scan, no
  * exchange) and its lineage append is one single-partition write. The
  * cost is memory: the run's whole extracted output stays cached until the
  * last group commits, spilling to disk past the storage memory.
  *
  * Checkpoint granularity trades re-work after a kill (small G: each group,
  * and the work a kill throws away with it, is larger) against per-group
  * commit overhead (large G); G≈#(Iceberg partitions touched) in a real
  * deployment.
  */
object Checkpoint {

  def spansDir(outDir: String)   = s"$outDir/spans"
  def lineageDir(outDir: String) = s"$outDir/lineage"

  def groupOf(numGroups: Int, docId: Column = col("doc_id")): Column =
    pmod(xxhash64(docId), lit(numGroups.toLong))

  /** The writer seam (SURVEY §7.1): Iceberg-style per-group commit. A real
    * Iceberg catalog slots in by implementing `overwriteGroup` as
    * MERGE/overwrite-partition and `commitGroup` as the snapshot commit that
    * appends the group's lineage rows; `doneGroups` reads the lineage table.
    * The contract `runResumable` relies on:
    *  - `overwriteGroup` is idempotent and all-or-nothing per group (a
    *    killed write leaves nothing visible; a re-run replaces, never
    *    appends);
    *  - `commitGroup` runs strictly AFTER the group's data is durable — its
    *    lineage append IS the commit marker;
    *  - `doneGroups` returns exactly the groups whose `commitGroup` landed.
    */
  trait SpanWriter {
    def doneGroups(): Set[Long]
    def overwriteGroup(grp: Long, spans: DataFrame): Unit
    def commitGroup(grp: Long, lineage: DataFrame): Unit
  }

  /** The production writer: plain parquet (the local jars carry no Iceberg
    * runtime). Dynamic partition-overwrite gives the per-group atomicity;
    * the lineage append is the commit marker.
    */
  final class ParquetSpanWriter(spark: SparkSession, outDir: String) extends SpanWriter {

    override def doneGroups(): Set[Long] = {
      val path = new org.apache.hadoop.fs.Path(lineageDir(outDir))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Set.empty
      else spark.read.parquet(lineageDir(outDir))
        .select("grp").distinct().collect().map(_.getLong(0)).toSet
    }

    // Overwrite mode is scoped to THIS write (not session conf): a session-
    // wide dynamic mode would silently change the semantics of every other
    // partitioned overwrite in the same session — e.g. AnnIndex.build's
    // static cells/ overwrite, where leaving stale cell=N partitions from a
    // previous larger index would make probes read vectors assigned under
    // old centroids.
    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      spans.withColumn("grp", lit(grp))
        .write.mode(SaveMode.Overwrite).partitionBy("grp")
        .option("partitionOverwriteMode", "dynamic").parquet(spansDir(outDir))

    override def commitGroup(grp: Long, lineage: DataFrame): Unit =
      lineage.withColumn("grp", lit(grp))
        .write.mode(SaveMode.Append).parquet(lineageDir(outDir))
  }

  /** Run (or resume) an extraction against the default parquet writer.
    * Returns the number of groups processed in THIS invocation. `maxGroups`
    * limits work for kill-simulation tests.
    */
  def runResumable(
      docs: Dataset[Doc],
      outDir: String,
      cfg: ExtractJob.Config = ExtractJob.Config(),
      numGroups: Int = 8,
      maxGroups: Int = Int.MaxValue): Int =
    runResumable(docs, new ParquetSpanWriter(docs.sparkSession, outDir),
      cfg, numGroups, maxGroups)

  /** Run (or resume) an extraction against an arbitrary [[SpanWriter]]. */
  def runResumable(
      docs: Dataset[Doc],
      writer: SpanWriter,
      cfg: ExtractJob.Config,
      numGroups: Int,
      maxGroups: Int): Int = {
    require(numGroups >= 1, s"numGroups must be >= 1, got $numGroups")
    val spark = docs.sparkSession
    import spark.implicits._

    val done = writer.doneGroups()
    val todo = (0L until numGroups.toLong).filterNot(done).take(maxGroups)
    if (todo.isEmpty) return 0

    // One kernel pass over the todo groups' docs; every group's write and
    // lineage below reads this cache, never the input.
    val stage = ExtractJob.tagged(docs.filter(groupOf(numGroups).isin(todo: _*)), cfg)
      .toDF("doc", "partition_id", "failed")
      .withColumn("grp", groupOf(numGroups, $"doc.doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val lineage = ExtractJob.lineageBy(stage, $"grp")
        .select($"grp", $"lineage").as[(Long, Lineage)].collect().toSeq.groupMap(_._1)(_._2)
      // The lineage append IS the commit marker, so it must be non-empty even
      // for a zero-doc group: a synthetic partition_id=-1 marker row makes
      // empty groups durably "done" (otherwise every resume re-runs them).
      val marker = Lineage(-1, 0L, 0L, 0L, "marker")
      for (g <- todo) {
        writer.overwriteGroup(g, stage.filter($"grp" === g).select($"doc.*"))
        // one partition: the group's few rows land as one file
        writer.commitGroup(g,
          spark.createDataset(lineage.getOrElse(g, Nil) :+ marker).toDF().coalesce(1))
      }
    } finally stage.unpersist()
    todo.size
  }

  def readSpans(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(spansDir(outDir)).drop("grp")

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(lineageDir(outDir))
}
