package graft.pipeline

/** spark-submit entrypoint for the corpus-curation pipeline: stages the
  * doc-feature table durably, then writes the curated table (doc_id, lang,
  * quality, split) and the per-stage funnel report (stage, docs, dropped,
  * reason) next to it, and prints the funnel.
  *
  * Crash/resume semantics:
  *  - the feature stage is a [[VersionedTable]] generation under
  *    `<stageDir>/features`, committed marker-after-data with the input
  *    digest; a re-run after a crash mid-stage rewrites it, a re-run after
  *    the commit never re-reads the input (unless the input changed);
  *  - everything downstream is a pure function of the staged table and is
  *    written with plain overwrite, so a re-run after ANY crash converges
  *    to the same bytes (validated by the kill-resume case in
  *    `PipelineSpec`);
  *  - only the feature stage is durable: connected components' labels and
  *    the per-doc verdict table both outputs read are `localCheckpoint`s,
  *    so a lost executor after the stage fails the job, and the re-run
  *    resumes from the durable stage.
  *
  *   spark-submit --class graft.pipeline.CurateMain <jar> <sfDir> <outDir> [stageDir]
  */
object CurateMain {
  private val Usage = "usage: CurateMain <inputSfDir> <outDir> [stageDir]"

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = MainArgs.arity(args, Usage).take(2)
    val stageDir = args.lift(2).getOrElse(s"$outDir/_stage")
    MainArgs.launch("graft-curate") { spark =>
      // one shared stage computation feeds both outputs (invoking the two
      // registry queries separately would run the LSH + connected-components
      // DAG twice)
      val (curated, funnel) = graft.operators.DedupOps.curationRunStaged(spark, inDir, stageDir)
      curated.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/curated")
      // materialize the funnel rows ONCE: print from the collected copy and
      // write them back as a local DataFrame instead of re-executing the plan
      val rows = funnel.collect()
      rows.foreach(r => println(
        s"[curate] ${r.getString(0)}: ${r.getLong(1)} docs (dropped ${r.getLong(2)}: ${r.getString(3)})"))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), funnel.schema)
        .write.mode("overwrite").parquet(s"$outDir/funnel")
    }
  }
}
