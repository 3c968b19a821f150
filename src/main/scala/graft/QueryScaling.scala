package graft

import org.apache.spark.sql.functions._

/** Per-query scale-linearity probe (round-6 measurement; the VERDICT r5 #4
  * ask): time the expensive corpus queries on the sf corpus and on an
  * F×-replicated copy, and report t(F×)/t(1×) per query. A query whose
  * ratio materially exceeds F is scaling super-linearly — the class of bug
  * (accidental O(L²) re-inline, all-pairs step, driver loop) that plan
  * gates cannot see and that sf0.1 timings alone caught only by luck in
  * round 5 (commit 37ca2a0).
  *
  * Replication scheme — F *independent* copies of the corpus, so the ideal
  * ratio is exactly F (plus amortized fixed overhead, so slightly less in
  * practice; the flag threshold is 1.5 × F):
  *   - doc_id' = doc_id + r × 20370. 20370 = 97·10·3·7 (the LCM of every
  *     mod-split any operator uses: %97 decontamination/calibration
  *     held-out, %10 incremental batch, %3 / %7 metadata fixtures), so each
  *     replica preserves the original's mod-class structure exactly.
  *   - text' = per-replica Caesar rotation of [a-z] (`translate`): length
  *     preserving — per-replica byte/char workload identical to the
  *     original — while replica token sets are pairwise disjoint, so no
  *     cross-replica shingles, candidate pairs, or vocabulary collisions:
  *     dup structure per replica is exactly the original's, never an
  *     artificial F²-clique blowup of replicated identical texts.
  * Only documents.parquet is replicated; every other table is symlinked.
  * The default query set is every driver-benched query whose cost is
  * dominated by the documents corpus.
  *
  * Usage: runMain graft.QueryScaling [sfDir]
  *   SPARK_GRAFT_SCALE (default 10), SPARK_GRAFT_REPS (default 3 at 1×,
  *   max(2, reps-1) at F×), SPARK_GRAFT_QUERIES=name,name to override the
  *   set. Measurement-only — the official artifact remains `graft.Bench`.
  */
object QueryScaling {

  private val DefaultQueries = Seq(
    "q_bpe_vocab", "q_bpe_encode", "q_dedup_clusters", "q_dedup_keep_best",
    "q_dedup_pipeline", "q_curation_pipeline", "q_curation_funnel",
    "q_substring_dedup", "q_substring_coverage", "q_substring_strip",
    "q_lm_bigram_score", "q_incremental_dedup", "q_winnow",
    "q_ngram_novelty", "q_ngram_jaccard", "q_dup_rate_by_domain",
    "q_minhash_calibration", "q_minhash_lsh_pairs", "q_fingerprint",
    "q_pii_scrub")

  /** doc_id offset between replicas: LCM of every operator mod-split. */
  private val ReplicaOffset = 20370L

  private def rotated(r: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    a.substring(r) + a.substring(0, r)
  }

  /** Fails unless `factor` replicas of doc_ids in `[minId, maxId]` stay
    * independent copies: ids must lie in `[0, ReplicaOffset)` so that no
    * shifted id meets another replica's, and there are only 26 distinct
    * rotations of [a-z], so replica 26 would clone replica 0's texts.
    */
  private[graft] def checkReplicable(factor: Int, minId: Long, maxId: Long): Unit = {
    require(factor >= 1 && factor <= 26,
      s"SPARK_GRAFT_SCALE=$factor: replica texts are the 26 rotations of [a-z], " +
        "so a factor above 26 would repeat texts; use 1..26")
    require(minId >= 0 && maxId < ReplicaOffset,
      s"doc_id range [$minId, $maxId] is not inside [0, $ReplicaOffset): replica " +
        s"doc_ids (doc_id + r * $ReplicaOffset) would collide across replicas")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val reps1 = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val repsF = math.max(2, reps1 - 1)
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val spark = Bench.session(Bench.cpus)

    // ---- stage the replicated corpus ----
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(min("doc_id"), max("doc_id")).head()
    checkReplicable(factor, ids.getLong(0), ids.getLong(1))
    val scaled = s"/tmp/graft_qscale_x$factor"
    val scaledPath = java.nio.file.Paths.get(scaled)
    if (java.nio.file.Files.exists(scaledPath)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scaledPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    java.nio.file.Files.createDirectories(scaledPath)
    val rotMap = (0 until factor).map(r => s"WHEN r = $r THEN translate(text, 'abcdefghijklmnopqrstuvwxyz', '${rotated(r)}')")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(sequence(lit(0), lit(factor - 1))).as("r"), col("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .select(
        (col("doc_id") + col("r") * lit(ReplicaOffset)).as("doc_id"),
        expr(s"CASE ${rotMap.mkString(" ")} END").as("text"),
        col("lang"), col("source"), col("n_chars"))
      // single file, mirroring the testdata layout, so both arms present the
      // same one-row-group scan shape and the comparison is layout-for-layout
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
    val sfp = java.nio.file.Paths.get(sfDir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(sfp).iterator().asScala
      .filter(p => p.getFileName.toString != "documents.parquet")
      .foreach { p =>
        java.nio.file.Files.createSymbolicLink(
          scaledPath.resolve(p.getFileName.toString), p.toAbsolutePath)
      }
    val nd = spark.read.parquet(s"$scaled/documents.parquet").count()
    System.err.println(s"[qscale] staged $scaled: $nd docs (factor $factor)")

    // warm codegen/JIT on the smallest input
    try Bench.force(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001"))
    catch { case _: Throwable => () }

    // ---- time both arms, REP-INTERLEAVED (1×, F×, 1×, F×, …) so a
    // co-tenant load spike lands on both arms of the same query rather
    // than poisoning one side of the ratio ----
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      val a1 = scala.collection.mutable.ArrayBuffer[Double]()
      val aF = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to math.max(reps1, repsF)).foreach { i =>
        if (i <= reps1) {
          spark.sparkContext.setJobDescription(s"qscale:$name@1x")
          a1 += Bench.timeSec(Bench.force(fn(spark, sfDir)))
        }
        if (i <= repsF) {
          spark.sparkContext.setJobDescription(s"qscale:$name@${factor}x")
          aF += Bench.timeSec(Bench.force(fn(spark, scaled)))
        }
      }
      val t1 = a1.min
      val tF = aF.min
      spark.sparkContext.setJobDescription(null)
      val ratio = tF / t1
      System.err.println(f"[qscale] $name t1=$t1%.3f t$factor=$tF%.3f ratio=$ratio%.2f load=${Bench.loadavg1m}%.2f")
      (name, t1, tF, ratio)
    }
    val flagged = rows.filter(_._4 > 1.5 * factor)
    val qjson = rows.map { case (n, t1, tF, r) =>
      f""""$n":{"t1":$t1%.3f,"tF":$tF%.3f,"ratio":$r%.2f}"""
    }.mkString(",")
    println(s"""{"metric":"query_scaling","sf":"$sfDir","factor":$factor,"docs_scaled":$nd,""" +
      s""""flag_threshold":${1.5 * factor},"flagged":[${flagged.map("\"" + _._1 + "\"").mkString(",")}],""" +
      s""""queries":{$qjson}}""")
    spark.stop()
  }
}
