package graft.pipeline

import org.apache.spark.sql.SparkSession

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
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupStateMain <inputSfDir> <stateDir>")
    val Array(inDir, stateDir) = args.take(2)
    val spark = SparkSession.builder()
      .appName("graft-dedup-state")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rebuilt = graft.operators.DedupState.build(spark, inDir, stateDir)
    val gen = graft.operators.DedupState.generation(spark, stateDir)
    val bands = spark.read.parquet(s"$gen/bands").count()
    val sigs = spark.read.parquet(s"$gen/sigs").count()
    println(s"""{"rebuilt":$rebuilt,"bands":$bands,"sig_docs":$sigs,"state":"$stateDir","generation":"$gen"}""")
    spark.stop()
  }
}
