package graft.pipeline

import graft.kernel.ExtractMode
import graft.sources.DocSynth

/** Production entrypoint (north_rule: "runs via spark-submit"):
  *
  *   spark-submit --class graft.pipeline.ExtractMain \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <inputSfDir> <outDir> [chunk|paragraph|semantic]
  *
  * Reads the docs table, runs the resumable group-committed extraction
  * (Checkpoint: MERGE-on-doc_id-equivalent over parquet, in
  * `Checkpoint.DefaultGroups` groups), prints the lineage summary.
  * Re-running after a kill resumes from the last committed group. A resume
  * must repeat the first run's mode: the output does not record it yet,
  * and a resume in another mode mixes two modes' spans in one table
  * (ROADMAP direction 6 makes the output refuse such a resume).
  * Bad arguments fail with the usage line before any Spark job runs.
  */
object ExtractMain {
  private val Usage = "usage: ExtractMain <inputSfDir> <outDir> [chunk|paragraph|semantic]" +
    " (a resume into <outDir> must repeat its first run's mode)"

  /** The extraction mode named on the command line; an unknown name fails. */
  private[pipeline] def parseMode(name: String): ExtractMode = name match {
    case "chunk"     => ExtractMode.ChunkMode
    case "paragraph" => ExtractMode.ParagraphMode
    case "semantic"  => ExtractMode.SemanticMode
    case _           => throw new IllegalArgumentException(s"unknown mode '$name'; $Usage")
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, modeName) = MainArgs.arity(args, Usage).padTo(3, "chunk")
    val mode = parseMode(modeName)
    MainArgs.launch("graft-extract") { spark =>
      val processed = Checkpoint.runResumable(DocSynth.docs(spark, inDir), outDir,
        ExtractJob.Config(mode = mode))
      val summary = Checkpoint.readLineage(spark, outDir).groupBy()
        .sum("docs_parsed", "spans_emitted", "parse_failures").collect()(0)
      println(s"[extract] groups processed this run: $processed/${Checkpoint.DefaultGroups}; " +
        s"totals: docs=${summary.getLong(0)} spans=${summary.getLong(1)} failures=${summary.getLong(2)}")
    }
  }
}
