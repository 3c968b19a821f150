package graft.pipeline

import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Lineage}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
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
  *  - No collect() of spans, no driver-side loops; lineage is counted
  *    inside each kernel partition (no exchange) and only the tiny
  *    per-partition summary reaches the driver: as rows of its own job
  *    ([[lineageBy]]), or, for `Checkpoint`'s runs, as an accumulator
  *    update from the kernel tasks of the spans write itself
  *    ([[keyedWithLineage]]), so a run extracts once without caching.
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

  /** One doc through the kernel: its spans, and whether extraction threw
    * (then the doc is empty).
    */
  private def extractOne(d: Doc, mode: ExtractMode): (Doc, Boolean) =
    try (Extract.extractDoc(d, mode), false)
    catch { case NonFatal(_) => (Doc(d.doc_id, Nil), true) }

  /** The kernel stage: `(doc, partition_id, failed)` per input doc; a doc
    * whose extraction throws becomes an empty doc with `failed = true`.
    */
  def tagged(docs: Dataset[Doc], cfg: Config = Config()): Dataset[(Doc, Int, Boolean)] = {
    import docs.sparkSession.implicits._
    val mode = cfg.mode
    docs.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      it.map { d =>
        val (out, failed) = extractOne(d, mode)
        (out, pid, failed)
      }
    }
  }

  /** The kernel over docs keyed by a long (`Checkpoint`'s group): `(doc,
    * key)` per input doc, failures handled as in [[tagged]]. Each task
    * counts its partition's lineage per key and, once its input is
    * exhausted, adds one `(key, Lineage)` entry per key to `lineage` — the
    * rows [[lineageBy]] would compute over the same partition.
    *
    * The entries are exact when this stage runs in a job's result tasks
    * (nothing between it and the action moves rows): Spark applies a
    * result task's accumulator update once per partition and drops those
    * of failed attempts. Each evaluation of the returned Dataset adds its
    * entries again.
    */
  private[pipeline] def keyedWithLineage(
      keyed: Dataset[(Doc, Long)],
      cfg: Config,
      lineage: CollectionAccumulator[(Long, Lineage)]): Dataset[(Doc, Long)] = {
    import keyed.sparkSession.implicits._
    val mode = cfg.mode
    keyed.mapPartitions { it =>
      val counts = new LineageCounter(TaskContext.getPartitionId())
      // `++` takes its operand by name: the entries are added when the
      // kernel's output is exhausted, not before
      it.map { case (d, k) =>
        val (out, failed) = extractOne(d, mode)
        counts.add(k, out.spans.size, failed)
        (out, k)
      } ++ { counts.rows.foreach(lineage.add); Iterator.empty }
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
        val counts = new LineageCounter(pid)
        rows.foreach { case (k, p, spans, failed) =>
          if (p != pid) throw new IllegalStateException(
            s"lineage row of partition_id $p read in partition $pid: rows moved after the kernel")
          counts.add(k, spans, failed)
        }
        counts.rows
      }
  }

  /** One kernel partition's lineage: per key, docs parsed, spans emitted
    * and parse failures, as one [[Lineage]] row per key.
    */
  private final class LineageCounter(pid: Int) {
    private val byKey = scala.collection.mutable.LinkedHashMap[Long, Array[Long]]()

    def add(key: Long, spans: Long, failed: Boolean): Unit = {
      val acc = byKey.getOrElseUpdate(key, new Array[Long](3))
      acc(0) += 1
      acc(1) += spans
      if (failed) acc(2) += 1
    }

    def rows: Iterator[(Long, Lineage)] =
      byKey.iterator.map { case (k, a) => (k, Lineage(pid, a(0), a(1), a(2), "complete")) }
  }

  /** Extraction with lineage: `(spans, lineage)` over `docs`. */
  def extractWithLineage(docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[Doc], Dataset[Lineage]) =
    split(tagged(docs, cfg))
}
