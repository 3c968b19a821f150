package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feedback-log operators as REAL JSONL I/O (SURVEY.md §2.1 S6/S7 + §2.5 A4).
  *
  * The reference appends one JSON object per line to a feedback log
  * (`/root/reference/src/web/app.py:133-140`) and its eval job reads that
  * JSONL back line-by-line (`src/scripts/eval_feedback_mlflow.py:5-11`).
  * Here the sink is `df.write.json` (Spark's JSON writer IS JSONL: one
  * object per line, null fields omitted — exactly the reference's
  * `fb.get("rerank_model", None)` shape) and the source is
  * `spark.read.schema(...).json` — schema'd, so the scan never infers (an
  * inference pass would read 100 TB twice).
  *
  * The feedback rows are derived deterministically from the events table so
  * the DuckDB oracle can compute the same aggregate straight from events:
  * the queries prove write→read round-trip fidelity, including null-field
  * omission and re-materialization.
  */
object FeedbackOps {

  /** Deterministic (dense_model, rerank_model, feedback) derivation. */
  private val denseModelSql  = "'dense-' || CAST(user_id % 3 AS VARCHAR)"
  private val rerankModelSql =
    "CASE WHEN user_id % 5 < 2 THEN NULL ELSE 'ce-' || CAST(user_id % 5 AS VARCHAR) END"
  private val feedbackSql = s"CASE WHEN ${Idioms.feedbackDuck} THEN 1 ELSE 0 END"

  private def feedbackRows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("request_id"),
      concat(lit("dense-"), (col("user_id") % 3).cast("string")).as("dense_model"),
      when(col("user_id") % 5 < 2, lit(null: String))
        .otherwise(concat(lit("ce-"), (col("user_id") % 5).cast("string"))).as("rerank_model"),
      when(Idioms.feedbackSpark, 1).otherwise(0).as("feedback"))

  /** Per-(dense, rerank) precision@k with the per-row DECIMAL trick so the
    * 0/1 sums are order-independent (they are exact anyway, but avg() division
    * order is pinned by computing sum/count explicitly on both engines).
    */
  private def groupedPrecision(fb: DataFrame): DataFrame =
    fb.groupBy(col("dense_model"), coalesce(col("rerank_model"), lit("none")).as("rerank_model"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("feedback")).cast("double") / count(lit(1))).as("precision_at_k"),
        max(col("feedback")).cast("double").as("hit_rate"))

  /** At-most-one JSONL materialization per (session, sfDir) — the sink
    * half of the round-trip runs ONCE (computeIfAbsent; the path is keyed
    * by applicationId so concurrent sessions — Verify pre-flight vs Bench,
    * parallel test forks — never race on the overwrite), and every
    * registry invocation after the first is a pure schema'd read. This
    * keeps the side effect out of the query function's steady-state path
    * (round-4 verdict #6) while the write→read fidelity stays under test.
    */
  private val materialized = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def feedbackJsonl(s: SparkSession, dir: String): String =
    materialized.compute(
      s.sparkContext.applicationId + "|" + dir,
      (_, cached) => {
        // revalidate a cached path: /tmp cleaners (systemd-tmpfiles) can
        // reap it mid-session, and re-materializing self-heals where a
        // stale cache entry would fail every later read with not-found
        val exists = cached != null && {
          val p = new org.apache.hadoop.fs.Path(cached)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
        }
        if (exists) cached
        else {
          val path = s"/tmp/graft_feedback_jsonl/${s.sparkContext.applicationId}/${new java.io.File(dir).getName}"
          feedbackRows(s, dir).write.mode("overwrite").json(path)
          path
        }
      })

  val ops: Seq[Op] = Seq(

    // S6 feedback sink + S7 feedback source: write JSONL (once per
    // session+dir, see feedbackJsonl), read it back (schema'd), aggregate —
    // the oracle aggregates events directly, so a hash match proves the
    // JSONL round-trip lost nothing.
    Op("q_feedback_jsonl",
      s"""SELECT $denseModelSql AS dense_model,
         |       coalesce($rerankModelSql, 'none') AS rerank_model,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum($feedbackSql) AS DOUBLE) / count(*) AS precision_at_k,
         |       CAST(max($feedbackSql) AS DOUBLE) AS hit_rate
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val path = feedbackJsonl(s, dir)
      val readBack = s.read
        .schema("request_id BIGINT, dense_model STRING, rerank_model STRING, feedback INT")
        .json(path)
      groupedPrecision(readBack).orderBy("dense_model", "rerank_model")
    },

    // A4 split argmax (eval_feedback_mlflow.py:54-66): best dense-only
    // configuration and best reranker configuration selected SEPARATELY —
    // per-model score is the reference's unweighted mean of its groups'
    // precisions (sum(x)/len(x)), made order-independent by summing the
    // per-group precisions as DECIMAL(18,12).
    Op("q_best_model_split",
      s"""WITH grouped AS (
         |  SELECT $denseModelSql AS dense_model,
         |         $rerankModelSql AS rerank_model,
         |         CAST(sum($feedbackSql) AS DOUBLE) / count(*) AS precision_at_k
         |  FROM events GROUP BY 1, 2),
         |dense AS (
         |  SELECT 'dense' AS mode, dense_model AS model,
         |         CAST(sum(CAST(precision_at_k AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_precision
         |  FROM grouped WHERE rerank_model IS NULL GROUP BY dense_model
         |  ORDER BY avg_precision DESC, model LIMIT 1),
         |rerank AS (
         |  SELECT 'reranker' AS mode, rerank_model AS model,
         |         CAST(sum(CAST(precision_at_k AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_precision
         |  FROM grouped WHERE rerank_model IS NOT NULL GROUP BY rerank_model
         |  ORDER BY avg_precision DESC, model LIMIT 1)
         |SELECT * FROM dense UNION ALL SELECT * FROM rerank ORDER BY mode""".stripMargin) { (s, dir) =>
      val grouped = feedbackRows(s, dir)
        .groupBy(col("dense_model"), col("rerank_model"))
        .agg((sum(col("feedback")).cast("double") / count(lit(1))).as("precision_at_k"))
      def best(mode: String, filter: org.apache.spark.sql.Column, key: String) =
        grouped.where(filter)
          .groupBy(col(key).as("model"))
          .agg((sum(col("precision_at_k").cast("decimal(18,12)")).cast("double") /
            count(lit(1))).as("avg_precision"))
          .orderBy(desc("avg_precision"), asc("model")).limit(1)
          .select(lit(mode).as("mode"), col("model"), col("avg_precision"))
      best("dense", col("rerank_model").isNull, "dense_model")
        .unionByName(best("reranker", col("rerank_model").isNotNull, "rerank_model"))
        .orderBy("mode")
    }
  )
}
