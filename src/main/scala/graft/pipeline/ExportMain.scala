package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entrypoint for the full training-data export: curation
  * (staged, input-identity-checked — see `DedupOps.curationRunStaged`) →
  * mixture sampling → shard/order/pack ([[ExportJob]]) → shard-partitioned
  * parquet at `<outDir>/data`, plus a per-shard summary table at
  * `<outDir>/summary`.
  *
  * Commit protocol: marker-after-data. The export write is ONE dynamic
  * job (`partitionBy(shard)` overwrite); `_export_done` is written strictly
  * after it returns and records the row/sequence totals. A kill anywhere
  * mid-write leaves no marker → the next run rewrites the data (the
  * assembly is deterministic, so the rewrite converges to identical
  * bytes); a present marker means the data committed and the run is a
  * no-op. The expensive stage (curation's tokenize/LSH/CC feature pass)
  * is NOT redone on resume — it sits behind its own durable staged table.
  * The done-marker records the INPUT DIGEST ([[graft.util.InputIdentity]])
  * and the no-op check compares it: a refreshed corpus re-exports (and the
  * curation stage re-runs via its own identity marker) instead of the
  * bare marker short-circuiting into serving stale data.
  *
  *   spark-submit --class graft.pipeline.ExportMain <jar> \
  *     <inputSfDir> <outDir> [nShards]
  */
object ExportMain {
  private val Usage = "usage: ExportMain <inputSfDir> <outDir> [nShards]"

  /** `(inputSfDir, outDir, nShards)`; bad arguments fail with the usage line. */
  private[pipeline] def parseArgs(args: Array[String]): (String, String, Int) = {
    require(args.length >= 2 && args.length <= 3, Usage)
    (args(0), args(1), args.lift(2).fold(8)(MainArgs.positiveInt("nShards", _, Usage)))
  }

  def main(args: Array[String]): Unit = {
    val (inDir, outDir, nShards) = parseArgs(args)
    val spark = SparkSession.builder()
      .appName("graft-export")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, inDir, outDir, nShards)
    spark.stop()
  }

  /** The resumable body (separated from main for in-process testing). */
  def run(spark: SparkSession, inDir: String, outDir: String, nShards: Int): Unit = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$outDir/_export_done")
    // The no-op check must see the INPUT IDENTITY, not just "done": a
    // refreshed corpus has to cascade into a fresh export here — the
    // curation stage's own identity check sits BEHIND this early return
    // and can never fire if a bare done-marker short-circuits first.
    val inputDigest = graft.util.InputIdentity.digestOf(spark, inDir)
    graft.util.Markers.read(fs, marker) match {
      case Some(recorded) =>
        val recordedInput = recorded.split(' ').collectFirst {
          case f if f.startsWith("input=") => f.stripPrefix("input=")
        }
        val sameInput = inputDigest match {
          case None         => true // input decommissioned: the commit is the truth
          case Some(digest) => recordedInput.contains(digest)
        }
        if (sameInput) {
          println(s"[export] $outDir already committed — no-op ($recorded)")
          return
        }
        println(s"[export] $outDir committed against a DIFFERENT input — re-exporting")
        fs.delete(marker, false) // marker down before any rewrite starts
      case None => ()
    }
    val (curated, _) = graft.operators.DedupOps
      .curationRunStaged(spark, inDir, s"$outDir/_stage/curation")
    val docs = graft.operators.Tables.documents(spark, inDir)
    val assembled = ExportJob.assembleFrom(curated, docs, nShards)
    assembled.write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/data")

    // summary from the WRITTEN data (not the logical plan): what the loader
    // will actually see
    val written = spark.read.parquet(s"$outDir/data")
    val summary = written.groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
        countDistinct(col("seq_id")).as("sequences"))
      .orderBy("shard")
    val rows = summary.collect()
    rows.foreach(r => println(s"[export] shard=${r.get(0)}: ${r.getLong(1)} docs, " +
      s"${r.getLong(2)} tokens, ${r.getLong(3)} sequences"))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), summary.schema)
      .write.mode("overwrite").parquet(s"$outDir/summary")
    val totalDocs = rows.map(_.getLong(1)).sum
    val totalToks = rows.map(_.getLong(2)).sum
    // marker LAST: its presence certifies data + summary are both durable;
    // it records the input digest so a refreshed corpus invalidates it
    graft.util.Markers.write(fs, marker,
      s"input=${inputDigest.getOrElse("unknown")} " +
        s"docs=$totalDocs tokens=$totalToks shards=${rows.length}")
    println(s"[export] committed: $totalDocs docs, $totalToks tokens, ${rows.length} shards")
  }
}
