package graft.pipeline

import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Lineage}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
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
  *    inside each kernel partition (no exchange) by the one partition
  *    function both entry points run, and only the tiny per-partition
  *    summary leaves the task: as the rows of a Dataset of its own
  *    ([[extractWithLineage]]), or, for `Checkpoint`'s runs, as an
  *    accumulator update from the kernel tasks of the spans write itself
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

  /** The kernel over one partition of `(doc, key)` rows: `(spans, key)` per
    * row, a doc whose extraction throws becoming an empty doc counted as a
    * parse failure. Once the input is exhausted, `lineage` receives the
    * partition's counts, one `(key, Lineage)` row per key seen.
    */
  private def extractPartition(rows: Iterator[(Doc, Long)], mode: ExtractMode)(
      lineage: Iterator[(Long, Lineage)] => Unit): Iterator[(Doc, Long)] = {
    val counts = new LineageCounter(TaskContext.getPartitionId())
    // `++` takes its operand by name: the counts are handed over when the
    // kernel's output is exhausted, not before
    rows.map { case (d, k) =>
      val (out, failed) = extractOne(d, mode)
      counts.add(k, out.spans.size, failed)
      (out, k)
    } ++ { lineage(counts.rows); Iterator.empty }
  }

  /** The kernel over docs keyed by a long (`Checkpoint`'s group): `(doc,
    * key)` per input doc. Each task adds its partition's lineage, one
    * `(key, Lineage)` entry per key, to `lineage`.
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
    keyed.mapPartitions(extractPartition(_, mode)(_.foreach(lineage.add)))
  }

  /** Extraction with lineage: `(spans, lineage)` over `docs`, the lineage
    * one row per kernel partition that holds docs. Each is its own action
    * and runs the kernel.
    */
  def extractWithLineage(docs: Dataset[Doc], cfg: Config = Config())
      : (Dataset[Doc], Dataset[Lineage]) = {
    import docs.sparkSession.implicits._
    val mode = cfg.mode
    val spans = docs.mapPartitions(it => extractPartition(it.map((_, 0L)), mode)(_ => ()).map(_._1))
    val lineage = docs.mapPartitions { it =>
      val rows = scala.collection.mutable.ArrayBuffer[Lineage]()
      extractPartition(it.map((_, 0L)), mode)(rows ++= _.map(_._2)).foreach(_ => ())
      rows.iterator
    }
    (spans, lineage)
  }
}
