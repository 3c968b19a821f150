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
  *  - No collect() of spans, no driver-side loops; lineage is aggregated
  *    inside each kernel partition (no exchange) and only the tiny
  *    per-partition summary reaches the driver.
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
    (stage.map(_._1), lineageBy(stage.toDF("doc", "partition_id", "failed"), lit(0L)).map(_._2))
  }

  /** Lineage of a tagged stage (columns `doc`, `partition_id`, `failed`),
    * one row per `(key, partition_id)`: the key (a long column) and a
    * [[Lineage]] row.
    *
    * A partition-local aggregate: one hash map per partition, no exchange.
    * That is exact because `partition_id` is the kernel task's partition
    * index, so every row of one `partition_id` sits in the same partition
    * of `stage` as long as nothing between the kernel and here moves rows
    * (true for `tagged` itself and for a persisted copy of it; a row seen
    * in another partition fails the task). So the result holds at most
    * keys x partitions rows, small enough to collect on the driver.
    */
  def lineageBy(stage: DataFrame, key: Column): Dataset[(Long, Lineage)] = {
    import stage.sparkSession.implicits._
    stage.select(key, col("partition_id"), size(col("doc.spans")), col("failed"))
      .as[(Long, Int, Long, Boolean)]
      .mapPartitions { rows =>
        val pid = TaskContext.getPartitionId()
        // per key: docs parsed, spans emitted, parse failures
        val byKey = scala.collection.mutable.LinkedHashMap[Long, Array[Long]]()
        rows.foreach { case (k, p, spans, failed) =>
          if (p != pid) throw new IllegalStateException(
            s"lineage row of partition_id $p read in partition $pid: rows moved after the kernel")
          val acc = byKey.getOrElseUpdate(k, new Array[Long](3))
          acc(0) += 1
          acc(1) += spans
          if (failed) acc(2) += 1
        }
        byKey.iterator.map { case (k, a) => (k, Lineage(pid, a(0), a(1), a(2), "complete")) }
      }
  }

  /** Extraction with lineage: `(spans, lineage)` over `docs`. */
  def extractWithLineage(docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[Doc], Dataset[Lineage]) =
    split(tagged(docs, cfg))
}
