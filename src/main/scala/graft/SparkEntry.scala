package graft

import graft.functions.GraftFunctions
import graft.operators._
import graft.pipeline.ExtractJob
import graft.sources.DocSynth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers the reference's operator inventory (SURVEY.md §2) plus
  * the training-data-pipeline operators (dedup / ANN / text analysis /
  * multimodal). Each SQL-expressible operator carries a DuckDB oracle with
  * identical column names/types; fold-based kernel operators are rows-only
  * here and golden-tested in ScalaTest instead.
  */
object SparkEntry {

  private val allOps: Seq[Op] =
    ExtractOps.ops ++ RetrievalOps.ops ++ EvalOps.ops ++ FeedbackOps.ops ++
      RelationalOps.ops ++ DedupOps.ops ++ SimilarityOps.ops ++
      TextAnalysisOps.ops ++ MultimodalOps.ops ++ CorpusOps.ops

  /** Flagship: the full extraction pipeline (synthesize interleaved docs →
    * kernel → spans), exploded to one row per output span. Driver
    * smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = DocSynth.docs(spark, "/root/testdata/sf0.001")
    ExtractJob.extractWithLineage(docs)._1.toDF()
      .select(col("doc_id"), explode(col("spans")).as("span"))
      .select(col("doc_id"), col("span.kind"), col("span.text"),
        col("span.media_ref"), col("span.offset"))
  }

  /** One entry per implemented operator from SURVEY.md §2. Each registers
    * the native functions on the caller's session first, so a bare session
    * runs the same plan as one built with [[GraftExtensions]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allOps.map { op =>
      op.name -> { (s: SparkSession, dir: String) => GraftFunctions.ensure(s); op.fn(s, dir) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (sequential-fold kernels) → driver records a rows-only check.
    */
  def oracleSql: Map[String, String] =
    allOps.flatMap(op => op.oracle.map(op.name -> _)).toMap
}
