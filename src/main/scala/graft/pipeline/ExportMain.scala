package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entrypoint for the full training-data export: curation
  * (staged, input-identity-checked — see `DedupOps.curationRunStaged`) →
  * mixture sampling → shard/order/pack ([[ExportJob]]) → shard-partitioned
  * parquet at `data/`, plus a per-shard summary table at `summary/`, both
  * inside one [[VersionedTable]] generation of `<outDir>`:
  * {{{
  *   <outDir>/gen-N/data/shard=S/   the export (one partitionBy("shard") write)
  *   <outDir>/gen-N/summary/        docs, tokens, sequences per shard
  *   <outDir>/gen-N/_committed      format export-v1/shards=<nShards> + input digest
  *   <outDir>/_stage/curation/      the curation feature stage (its own root)
  * }}}
  * Readers resolve the committed tip (`VersionedTable.resolve(spark, outDir)`).
  *
  * Commit protocol: `VersionedTable.reuseOrInstall`. A kill anywhere
  * mid-export leaves an uncommitted generation no reader sees, and the next
  * run installs a fresh one (the assembly is deterministic, so it converges
  * to identical bytes). A run whose shard count and input identity match
  * the committed tip is a no-op; a refreshed corpus or another shard count
  * installs a new generation, and the previous export stays readable
  * until the next install prunes it. The expensive stage (curation's
  * tokenize/LSH/CC feature pass) is NOT redone on resume — it sits behind
  * its own durable staged table.
  *
  *   spark-submit --class graft.pipeline.ExportMain <jar> \
  *     <inputSfDir> <outDir> [nShards]
  */
object ExportMain {
  private val Usage = "usage: ExportMain <inputSfDir> <outDir> [nShards]"

  /** `(inputSfDir, outDir, nShards)`; bad arguments fail with the usage line. */
  private[pipeline] def parseArgs(args: Array[String]): (String, String, Int) = {
    MainArgs.arity(args, Usage)
    (args(0), args(1), args.lift(2).fold(8)(MainArgs.positiveInt("nShards", _, Usage)))
  }

  def main(args: Array[String]): Unit = {
    val (inDir, outDir, nShards) = parseArgs(args)
    MainArgs.launch("graft-export")(run(_, inDir, outDir, nShards))
  }

  /** The resumable body (separated from main for in-process testing). */
  def run(spark: SparkSession, inDir: String, outDir: String, nShards: Int): Unit = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    val (gen, installed) =
      VersionedTable.reuseOrInstall(spark, outDir, s"export-v1/shards=$nShards", inDir) { gen =>
        val (curated, _) = graft.operators.DedupOps
          .curationRunStaged(spark, inDir, s"$outDir/_stage/curation")
        val docs = graft.operators.Tables.documents(spark, inDir)
        ExportJob.assembleFrom(curated, docs, nShards).write.partitionBy("shard").parquet(s"$gen/data")
        // summary from the WRITTEN data (not the logical plan): what the
        // loader will actually see
        spark.read.parquet(s"$gen/data").groupBy(col("shard"))
          .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
            countDistinct(col("seq_id")).as("sequences"))
          .coalesce(1).write.parquet(s"$gen/summary")
      }
    val rows = spark.read.parquet(s"$gen/summary").orderBy("shard").collect()
    rows.foreach(r => println(s"[export] shard=${r.get(0)}: ${r.getLong(1)} docs, " +
      s"${r.getLong(2)} tokens, ${r.getLong(3)} sequences"))
    val totals = s"${rows.map(_.getLong(1)).sum} docs, ${rows.map(_.getLong(2)).sum} tokens, " +
      s"${rows.length} shards"
    println(if (installed) s"[export] committed $gen: $totals"
      else s"[export] $gen already committed - no-op: $totals")
  }
}
