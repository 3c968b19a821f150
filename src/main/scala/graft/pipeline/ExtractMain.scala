package graft.pipeline

import graft.kernel.ExtractMode
import graft.sources.DocSynth
import org.apache.spark.sql.SparkSession

/** Production entrypoint (north_rule: "runs via spark-submit"):
  *
  *   spark-submit --class graft.pipeline.ExtractMain \
  *     --conf spark.sql.extensions=graft.GraftExtensions \
  *     target/scala-2.13/ragdocumentparserspark_2.13-0.1.0.jar \
  *     <inputSfDir> <outDir> [chunk|paragraph|semantic] [numGroups]
  *
  * Reads the docs table, runs the resumable group-committed extraction
  * (Checkpoint: MERGE-on-doc_id-equivalent over parquet), prints the lineage
  * summary. Re-running after a kill resumes from the last committed group.
  * A resume must repeat the first run's mode and numGroups: the output does
  * not record them yet, and a resume with another numGroups skips docs
  * whose new group number was committed under the old one (ROADMAP
  * direction 6 makes the output refuse such a resume).
  * Bad arguments fail with the usage line before any Spark job runs.
  */
object ExtractMain {
  private val Usage =
    "usage: ExtractMain <inputSfDir> <outDir> [chunk|paragraph|semantic] [numGroups]" +
      " (a resume into <outDir> must repeat its first run's mode and numGroups)"

  /** The extraction mode named on the command line; an unknown name fails. */
  private[pipeline] def parseMode(name: String): ExtractMode = name match {
    case "chunk"     => ExtractMode.ChunkMode
    case "paragraph" => ExtractMode.ParagraphMode
    case "semantic"  => ExtractMode.SemanticMode
    case _           => throw new IllegalArgumentException(s"unknown mode '$name'; $Usage")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4, Usage)
    val Array(inDir, outDir) = args.take(2)
    val mode = parseMode(args.lift(2).getOrElse("chunk"))
    val numGroups = args.lift(3).fold(8)(MainArgs.positiveInt("numGroups", _, Usage))

    // spark-submit provides master/conf; default local[*] for bare runs.
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val processed = Checkpoint.runResumable(DocSynth.docs(spark, inDir), outDir,
      ExtractJob.Config(mode = mode), numGroups)
    val summary = Checkpoint.readLineage(spark, outDir).groupBy()
      .sum("docs_parsed", "spans_emitted", "parse_failures").collect()(0)
    println(s"[extract] groups processed this run: $processed/$numGroups; " +
      s"totals: docs=${summary.getLong(0)} spans=${summary.getLong(1)} failures=${summary.getLong(2)}")
    spark.stop()
  }
}
