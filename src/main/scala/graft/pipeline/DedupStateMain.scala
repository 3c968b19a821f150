package graft.pipeline

import graft.operators.DedupState

/** spark-submit entrypoint for dedup-state maintenance: builds (or
  * no-op-reuses) the persisted LSH band/signature state for a corpus
  * snapshot — the table every incremental-ingest dedup probes instead of
  * rescanning the corpus (see `DedupState`). Safe to re-run after any
  * crash: each build installs a new [[VersionedTable]] generation whose
  * marker, written after the data, records the input digest. The counts
  * it prints are read from the resolved generation.
  *
  *   spark-submit --class graft.pipeline.DedupStateMain <jar> <sfDir> <stateDir>
  */
object DedupStateMain {
  private val Usage = "usage: DedupStateMain <inputSfDir> <stateDir>"

  def main(args: Array[String]): Unit = {
    val Array(inDir, stateDir) = MainArgs.arity(args, Usage)
    MainArgs.launch("graft-dedup-state") { spark =>
      val rebuilt = DedupState.build(spark, inDir, stateDir)
      val (gen, bands, sigs) = DedupState.sizes(spark, stateDir)
      println(s"""{"rebuilt":$rebuilt,"bands":$bands,"sig_docs":$sigs,"state":"$stateDir","generation":"$gen"}""")
    }
  }
}
