package graft.pipeline

import graft.model.{Doc, Lineage}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

/** Resumable, idempotent extraction runs — Iceberg MERGE-on-doc_id semantics
  * over plain Parquet (the local jars carry no Iceberg runtime; SURVEY.md §4.2).
  *
  * `outDir` is a [[VersionedTable]] root whose tip is tagged `spans-v1`;
  * the first run installs it empty. The generation directory is the spans
  * table, and its manifest holds the lineage:
  * {{{
  *   <outDir>/gen-N/grp=g/      spans parquet, partitioned by group
  *   <outDir>/gen-N/_batches/   lineage rows + one marker row per group
  * }}}
  *
  * Group = `pmod(xxhash64(doc_id), numGroups)` — the stand-in for an Iceberg
  * partition. Commit unit = one run's set of todo groups, committed the way
  * one Iceberg overwrite snapshot replaces several partitions at once:
  *
  *   1. the spans of every todo group written in ONE dynamic partition-
  *      overwrite job into `gen-N/grp=g` (job-level atomic; a killed job
  *      leaves nothing visible, a re-run *overwrites* the groups rather than
  *      appending → idempotent even if the previous run died between data
  *      commit and lineage commit);
  *   2. the lineage rows of every todo group, plus one marker row per group,
  *      appended to the generation's manifest in ONE single-file append
  *      after the data write returns ([[VersionedTable.appendManifest]]:
  *      this append IS the groups' commit).
  *
  * On resume, groups present in the manifest are skipped entirely — the
  * observable behavior of `MERGE INTO spans ON doc_id`: reprocessing a doc
  * never duplicates it, because extraction is deterministic and a group is
  * rewritten wholesale. Readers ([[readSpans]]) see only committed groups.
  *
  * `CompactMain` compacts the root into the next generation, manifest
  * included. It is a writer too: a run racing a compaction of the same root
  * commits into the superseded generation and its groups are lost to every
  * later reader (they re-run on the next resume).
  *
  * A run touches its input once, inside the spans write: the docs of
  * every group still to do, keyed by their group, go through
  * `ExtractJob`'s kernel, whose output is the write's input. No exchange
  * sits between the kernel and the write, so the kernel runs in the
  * write's result tasks, and each task reports its partition's lineage per
  * group (docs parsed, spans emitted, parse failures) through an
  * accumulator once its input is exhausted — the way an Iceberg data
  * writer reports its files' record counts for the driver to commit. Spark
  * applies a result task's accumulator update once per partition and drops
  * those of failed attempts, so after the write returns the driver holds
  * exactly one lineage row per `(grp, partition_id)` with docs. Nothing is
  * cached and no second job reads the extracted output. A writer may
  * evaluate the spans more than once; the kernel is deterministic, so the
  * repeated entries are equal and count once ([[foldLineage]]), and
  * entries that differ fail the run before anything commits.
  *
  * Kill granularity: a kill before the lineage append lands redoes every
  * group of the run on resume; a kill after it redoes nothing. Extraction
  * and the write of all todo groups are one job, so a kill loses at most
  * that job; what the run-wide commit adds to the loss is the work on
  * groups a per-group commit would have finished first.
  *
  * G decides the `grp=` directory layout of the spans table and the unit
  * of `maxGroups` (a run commits at most that many groups, which is how
  * tests simulate a kill). The number of Spark jobs a run starts does not
  * depend on G.
  */
object Checkpoint {

  private val SpansFormat = "spans-v1"

  def groupOf(numGroups: Int, docId: Column = col("doc_id")): Column =
    pmod(xxhash64(docId), lit(numGroups.toLong))

  /** The writer seam (SURVEY §7.1): Iceberg-style partition commit. A real
    * Iceberg catalog slots in by implementing `overwriteGroups` as a
    * dynamic partition overwrite and `commitGroups` as the snapshot commit
    * that appends the groups' lineage rows; `doneGroups` reads the
    * committed lineage. The batch methods are the production path:
    * `runResumable` calls each once per run, with DataFrames that carry a
    * `grp` column.
    * The per-group methods serve writers that commit one group at a time
    * and decorators that time each group; the batch defaults loop over
    * them. The contract `runResumable` relies on:
    *  - `overwriteGroups` / `overwriteGroup` are idempotent and all-or-
    *    nothing (a killed write leaves nothing visible; a re-run replaces,
    *    never appends);
    *  - `overwriteGroups` evaluates `spans` to the end, at least once: the
    *    extraction runs inside that evaluation and counts the lineage
    *    `commitGroups` receives. It may evaluate it more than once, at the
    *    cost of another kernel pass each time;
    *  - `commitGroups` / `commitGroup` run strictly AFTER the groups' data
    *    is durable — the lineage append IS the commit marker;
    *  - `doneGroups` returns exactly the groups whose lineage landed.
    */
  trait SpanWriter {
    def doneGroups(): Set[Long]
    def overwriteGroup(grp: Long, spans: DataFrame): Unit
    def commitGroup(grp: Long, lineage: DataFrame): Unit

    /** Replaces the data of every group in `grps`; `spans` has a `grp`
      * column. The default writes each group in turn from one cached copy
      * of `spans`, so the kernel runs once, not once per group.
      */
    def overwriteGroups(grps: Seq[Long], spans: DataFrame): Unit = {
      val cached = spans.persist()
      try grps.foreach(g => overwriteGroup(g, cached.filter(col("grp") === g).drop("grp")))
      finally cached.unpersist()
    }

    /** Commits every group in `grps`; `lineage` has a `grp` column and at
      * least one row per group.
      */
    def commitGroups(grps: Seq[Long], lineage: DataFrame): Unit =
      grps.foreach(g => commitGroup(g, lineage.filter(col("grp") === g).drop("grp")))
  }

  /** The production writer: plain parquet (the local jars carry no Iceberg
    * runtime) into the `spans-v1` tip of `outDir`. One dynamic partition-
    * overwrite job replaces all the given groups inside the generation; one
    * manifest append is the commit.
    */
  final class ParquetSpanWriter(spark: SparkSession, outDir: String) extends SpanWriter {

    // resolved on first use, so a run that fails its argument checks writes
    // nothing; an empty root gets an empty spans-v1 generation
    private lazy val gen: String = spansTip(spark, outDir).getOrElse(
      VersionedTable.install(spark, outDir, tag = VersionedTable.Tag(SpansFormat))(_ => ()))

    override def doneGroups(): Set[Long] = committedGroups(spark, gen)

    // Overwrite mode is scoped to THIS write (not session conf): a session-
    // wide dynamic mode would silently change the semantics of every other
    // partitioned overwrite in the same session — e.g. the static
    // overwrite of delta/batch=<bid> in AnnIndex.append, which a retried
    // append relies on to replace its crashed attempt's whole batch
    // directory.
    override def overwriteGroups(grps: Seq[Long], spans: DataFrame): Unit =
      spans.write.mode(SaveMode.Overwrite).partitionBy("grp")
        .option("partitionOverwriteMode", "dynamic").parquet(gen)

    override def commitGroups(grps: Seq[Long], lineage: DataFrame): Unit =
      VersionedTable.appendManifest(gen, lineage)

    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      overwriteGroups(Seq(grp), spans.withColumn("grp", lit(grp)))

    override def commitGroup(grp: Long, lineage: DataFrame): Unit =
      commitGroups(Seq(grp), lineage.withColumn("grp", lit(grp)))
  }

  /** The group count of a [[runResumable]] run that names none. */
  val DefaultGroups = 8

  /** Run (or resume) an extraction against the default parquet writer.
    * Returns the number of groups processed in THIS invocation. `maxGroups`
    * limits work for kill-simulation tests.
    *
    * A resume must pass the first run's `cfg.mode` and `numGroups`: the
    * output records neither, and the groups still to do are picked by
    * number. A `numGroups = 8` run cut after 4 groups, resumed with
    * `numGroups = 4`, finds groups 0-3 done and returns without writing,
    * so the docs of the first run's groups 4-7 never land; a mode change
    * mixes two modes' spans in one table. `ExtractMain` always runs
    * [[DefaultGroups]], so there only the mode can differ; a caller of this
    * API can pass any group count. ROADMAP direction 6 records both in the
    * output and refuses such a resume.
    */
  def runResumable(
      docs: Dataset[Doc],
      outDir: String,
      cfg: ExtractJob.Config = ExtractJob.Config(),
      numGroups: Int = DefaultGroups,
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

    // The one kernel pass runs inside the spans write; its tasks count the
    // lineage into `counted`, which commits after the write returns.
    val counted = spark.sparkContext.collectionAccumulator[(Long, Lineage)]
    val keyed = docs.select(struct(docs.columns.toSeq.map(docs.col): _*).as("doc"),
        groupOf(numGroups).as("grp"))
      .where($"grp".isin(todo: _*)).as[(Doc, Long)]
    writer.overwriteGroups(todo, ExtractJob.keyedWithLineage(keyed, cfg, counted)
      .toDF("doc", "grp").select($"doc.*", $"grp"))
    val lineage = foldLineage(counted.value.asScala.toSeq)
    // The lineage append IS the commit marker, so it must hold a row for
    // every group, even a zero-doc one: a synthetic partition_id=-1 marker
    // row per group makes empty groups durably "done" (otherwise every
    // resume re-runs them).
    val marker = Lineage(-1, 0L, 0L, 0L, "marker")
    val rows = lineage ++ todo.map(g => (g, marker))
    writer.commitGroups(todo, spark.createDataset(rows).select($"_2.*", $"_1".as("grp")))
    todo.size
  }

  /** One lineage row per `(grp, partition_id)` from the kernel tasks'
    * entries. Every evaluation of the spans adds its entries, so a key can
    * have several; the kernel is deterministic, so they are equal and count
    * once. Entries that differ mean two evaluations saw different input:
    * that throws, and the caller commits nothing.
    */
  private[pipeline] def foldLineage(entries: Seq[(Long, Lineage)]): Seq[(Long, Lineage)] =
    entries.groupBy { case (g, l) => (g, l.partition_id) }.toSeq.sortBy(_._1).map {
      case (_, Seq(one, rest @ _*)) if rest.forall(_ == one) => one
      case ((g, pid), differing) => throw new IllegalStateException(
        s"group $g, partition $pid: the spans were evaluated with differing lineage " +
          s"${differing.map(_._2).distinct.mkString(", ")} - the input is not deterministic")
    }

  /** The `spans-v1` tip of `outDir`, or None when the root has no
    * committed generation. A tip of another format is refused.
    */
  private def spansTip(spark: SparkSession, outDir: String): Option[String] =
    VersionedTable.resolveTagged(spark, outDir).map { case (gen, tag) =>
      require(tag.format == SpansFormat, s"$outDir is not extraction output: its tip $gen " +
        s"has format '${tag.format}', not $SpansFormat - use a fresh outDir")
      gen
    }

  private def committedGen(spark: SparkSession, outDir: String): String =
    spansTip(spark, outDir).getOrElse(throw new IllegalArgumentException(
      s"$outDir has no committed extraction output - run runResumable into it first"))

  /** The tables' schemas as `runResumable` writes them: the [[Doc]] or
    * [[Lineage]] columns, then `grp`. Reading with them skips the one-task
    * footer job that schema inference would start.
    */
  private val spansSchema: StructType = Encoders.product[Doc].schema.add("grp", LongType)
  private val lineageSchema: StructType = Encoders.product[Lineage].schema.add("grp", LongType)

  private def committedGroups(spark: SparkSession, gen: String): Set[Long] =
    VersionedTable.readManifest(spark, gen, lineageSchema)
      .fold(Set.empty[Long])(_.select("grp").distinct().collect().map(_.getLong(0)).toSet)

  /** The spans of the committed groups only: a group whose data landed but
    * whose lineage append did not stays invisible. The filter is on `grp`,
    * so it prunes partitions.
    */
  def readSpans(spark: SparkSession, outDir: String): DataFrame = {
    val gen = committedGen(spark, outDir)
    spark.read.schema(spansSchema).parquet(gen)
      .where(col("grp").isin(committedGroups(spark, gen).toSeq: _*)).drop("grp")
  }

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    VersionedTable.readManifest(spark, committedGen(spark, outDir), lineageSchema)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), lineageSchema))
}
