package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for the flagship queries, by default into
  * the git-ignored target/plans/PLANS.md (dev tool, run on demand:
  * `runMain graft.tools.DumpPlans [sfDir] [outFile]`). The enforced plan
  * contract is `PlanQualitySpec`. Ids, call-site lines and the app id are
  * masked, so a `diff` of two checkouts' dumps shows only plan changes.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/plans/PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val flagship = Seq(
      "q_chunk_fixed", "q_dense_topk", "q_join_topk", "q1_agg",
      "q_minhash_lsh_pairs", "q_dedup_pipeline", "q_context_budget",
      "q_prompt_build", "q_ann_ivf", "q_hybrid_search", "q_simhash_pairs",
      "q_winnow", "q_decontaminate", "q_media_inventory", "q_asof_join",
      "q_dedup_clusters", "q_paragraph_dedup", "q_curation_pipeline",
      "q_curation_funnel", "q_topk_per_group", "q_percentiles",
      "q_pack_sequences", "q_lm_bigram_score", "q_incremental_dedup",
      "q_url_curation", "q_gopher_rules", "q_ingest_rates", "q_snapshot_diff",
      "q_dsir_weight", "q_substring_dedup", "q_bpe_vocab", "q_domain_mixture",
      "q_shuffle_shard", "q_pagerank", "q_semdedup", "q_caption_pairs",
      "q_hard_negatives", "q_mixture_epochs", "q_tfidf_topk",
      "q_length_histogram", "q_dedup_keep_best", "q_dup_rate_by_domain",
      "q_domain_quality_gate", "q_oov_rate", "q_ngram_novelty",
      "q_substring_strip", "q_minhash_calibration", "q_sparse_topk", "q_bm25_topk",
      "q_rerank", "q_rerank_remap", "q_ann_cosine_topk", "q_embed_neardup",
      "q_embed_neardup_cells", "q_precision_hitrate", "q_best_model", "q_feedback_jsonl",
      "q_best_model_split")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of flagship queries (generated by graft.tools.DumpPlans)\n\n"
    sb ++= "What to look for (PlanQualitySpec asserts these shapes): pruned `ReadSchema`,\n"
    sb ++= "`PushedFilters`, `BroadcastHashJoin`/`BroadcastExchange` for dims,\n"
    sb ++= "`partial_*` map-side aggregation, `TakeOrderedAndProject` top-k, and the\n"
    sb ++= "`md5prefix64` native content hash (`Idioms.h60Spark`).\n"
    for (name <- flagship) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      sb ++= df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        .replace(spark.sparkContext.applicationId, "<app>")
        .replaceAll("#\\d+", "#n").replaceAll("plan_id=\\d+", "plan_id=n")
        .replaceAll("RDD\\[\\d+\\]", "RDD[n]").replaceAll("\\.scala:\\d+", ".scala:n").take(8000)
      sb ++= "\n```\n"
    }
    new java.io.File(out).getParentFile.mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
