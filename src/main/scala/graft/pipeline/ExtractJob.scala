package graft.pipeline

import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Lineage}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The extraction pipeline (SURVEY.md §3.1's Spark lifecycle):
  *
  *   Dataset[Doc] → mapPartitions(kernel) → spans (+ per-partition lineage)
  *
  * One stage, no exchange of its own. Its input arrives already spread:
  * `DocSynth.docs` round-robins the raw rows across the session's cores
  * before synthesis, and a real table arrives in its scan splits. Moving the
  * synthesised span structs again would cost a stage and a shuffle of the
  * heaviest representation; the ~1/97 giant docs already balance out across
  * round-robin partitions (the skew test in PipelineSpec bounds it).
  *
  *  - No collect(), no driver-side loops; lineage is aggregated distributed
  *    and only the tiny per-partition summary reaches the driver.
  *  - Determinism: output spans are a pure function of the input row, so
  *    task retries and job re-runs emit identical bytes — the precondition
  *    for MERGE-on-doc_id resume (Checkpoint).
  *  - Kernel failures are counted, not thrown: a single malformed doc must
  *    not abort a 10^12-doc job (the reference aborts on the first error at
  *    ingest_documents.py:94, which is exactly the weakness the north_rule
  *    fixes).
  */
object ExtractJob {

  final case class Config(mode: ExtractMode = ExtractMode.ChunkMode)

  /** The kernel stage: `(doc, partition_id, failed)` per input doc; a doc
    * whose extraction throws becomes an empty doc with `failed = true`.
    */
  def tagged(docs: Dataset[Doc], cfg: Config = Config()): Dataset[(Doc, Int, Boolean)] = {
    import docs.sparkSession.implicits._
    val mode = cfg.mode
    docs.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { d =>
        try (Extract.extractDoc(d, mode), pid, false)
        catch { case NonFatal(_) => (Doc(d.doc_id, Nil), pid, true) }
      }
    }
  }

  /** Spans and per-partition lineage of one tagged stage. Each is its own
    * action over `stage`; persist it first to run the kernel once.
    */
  def split(stage: Dataset[(Doc, Int, Boolean)]): (Dataset[Doc], Dataset[Lineage]) = {
    import stage.sparkSession.implicits._
    val lineage = lineageBy(stage.toDF("doc", "partition_id", "failed"))
      .select($"lineage.*").as[Lineage]
    (stage.map(_._1), lineage)
  }

  /** Lineage of a tagged stage (columns `doc`, `partition_id`, `failed`),
    * one row per `(keys…, partition_id)`: those columns, then a `lineage`
    * struct in the [[Lineage]] shape.
    */
  def lineageBy(stage: DataFrame, keys: Column*): DataFrame =
    stage.groupBy(keys :+ col("partition_id"): _*)
      .agg(struct(
        col("partition_id"),
        count(lit(1)).as("docs_parsed"),
        sum(size(col("doc.spans"))).as("spans_emitted"),
        sum(when(col("failed"), 1L).otherwise(0L)).as("parse_failures"),
        lit("complete").as("status")).as("lineage"))

  /** Extraction with lineage: `(spans, lineage)` over `docs`. */
  def extractWithLineage(docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[Doc], Dataset[Lineage]) =
    split(tagged(docs, cfg))
}
