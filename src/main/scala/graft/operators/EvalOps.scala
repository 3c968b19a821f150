package graft.operators

import org.apache.spark.sql.functions._

/** Feedback-evaluation aggregations (SURVEY.md §2.5, A1–A5) re-expressed over
  * the events table (events.event_type stands in for the reference's
  * (dense_model, rerank_model) group key; `Idioms.feedbackSpark` /
  * `feedbackDuck` is the 0/1 feedback).
  *
  * precision@k = avg(feedback) (`eval_feedback_mlflow.py:13-19`),
  * hit_rate@k  = any(feedback) = max(feedback)    (`:18`),
  * best model  = argmax by precision              (`:54-66`).
  * Sums of exact 0/1 doubles are order-independent, so the cross-engine
  * compare is exact.
  */
object EvalOps {

  val ops: Seq[Op] = Seq(

    // A1–A3 grouped precision@k / hit-rate@k.
    Op("q_precision_hitrate",
      s"""SELECT event_type AS model,
         |       CAST(count(*) AS BIGINT) AS n,
         |       avg(CASE WHEN ${Idioms.feedbackDuck} THEN 1.0 ELSE 0.0 END) AS precision_at_k,
         |       CAST(max(CASE WHEN ${Idioms.feedbackDuck} THEN 1 ELSE 0 END) AS DOUBLE) AS hit_rate
         |FROM events GROUP BY event_type ORDER BY model""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type").as("model"))
        .agg(
          count(lit(1)).as("n"),
          avg(when(Idioms.feedbackSpark, 1.0).otherwise(0.0)).as("precision_at_k"),
          max(when(Idioms.feedbackSpark, 1).otherwise(0)).cast("double").as("hit_rate"))
        .orderBy("model")
    },

    // A4 best-model argmax (ORDER BY precision DESC LIMIT 1).
    Op("q_best_model",
      s"""SELECT event_type AS model,
         |       avg(CASE WHEN ${Idioms.feedbackDuck} THEN 1.0 ELSE 0.0 END) AS precision_at_k
         |FROM events GROUP BY event_type
         |ORDER BY precision_at_k DESC, model LIMIT 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type").as("model"))
        .agg(avg(when(Idioms.feedbackSpark, 1.0).otherwise(0.0)).as("precision_at_k"))
        .orderBy(desc("precision_at_k"), asc("model")).limit(1)
    },

    // A5 ingest volume counters + ADR-0002 cost model (chunks ≈ len/420):
    // the per-partition metrics table, keyed by source.
    Op("q_ingest_metrics",
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(CAST(ceil(n_chars/420.0) AS BIGINT)) AS BIGINT) AS est_chunks
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("docs"),
          sum(col("n_chars")).as("chars"),
          sum(ceil(col("n_chars") / 420.0)).as("est_chunks"))
        .orderBy("source")
    },

    // The reference's two headline Grafana panel expressions re-expressed
    // as batch analytics over the events table
    // (/root/reference/src/observability/instruments.py:14-15 and the
    // dashboard JSON panel exprs): ingest rate
    // `sum(rate(documents_ingested_total[1m]))*60` becomes non-error
    // events per minute per hour window; error rate
    // `100*(rate(errors)/(rate(ingested)+rate(errors)))` becomes the
    // per-window percentage. One partial-agg'd shuffle on the hour key;
    // each ratio is a single correctly-rounded division over exact counts.
    // The per-minute rate divides by the OBSERVED span inside the bucket
    // (exact microsecond bounds, floored at one minute), not a fixed 60 —
    // a partially covered first/last hour would otherwise understate the
    // rate the panel claims to measure. span_us is an exact BIGINT diff,
    // so the double arithmetic is order-free and bit-identical cross-engine.
    Op("q_ingest_rates",
      """WITH w AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    CAST(count(*) AS BIGINT) AS total_events,
        |    CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error_events,
        |    CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS span_us
        |  FROM events GROUP BY 1)
        |SELECT hour, total_events, error_events,
        |  CAST(total_events - error_events AS DOUBLE) /
        |    (CAST(greatest(span_us, 60000000) AS DOUBLE) / 60000000.0) AS ingested_per_min,
        |  100.0 * (CAST(error_events AS DOUBLE) / CAST(total_events AS DOUBLE)) AS error_rate_pct
        |FROM w ORDER BY hour""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(
          count(lit(1)).as("total_events"),
          count(when(col("event_type") === "error", 1)).as("error_events"),
          (max(unix_micros(col("ts").cast("timestamp"))) -
            min(unix_micros(col("ts").cast("timestamp")))).cast("bigint").as("span_us"))
        .select(col("hour"), col("total_events"), col("error_events"),
          ((col("total_events") - col("error_events")).cast("double") /
            (greatest(col("span_us"), lit(60000000L)).cast("double") / 60000000.0))
            .as("ingested_per_min"),
          (lit(100.0) * (col("error_events").cast("double") / col("total_events").cast("double")))
            .as("error_rate_pct"))
        .orderBy("hour")
    }
  )
}
