package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Table readers for the driver testdata. Every query reads through these so
  * filters/projections push into the parquet scan (verify with
  * .explain: PushedFilters / ReadSchema).
  */
object Tables {

  /** Spread an under-parallel scan across the session's cores BEFORE a
    * compute-heavy per-row stage (optimization guide §2.5, "input skew —
    * one huge unsplittable file ... otherwise repartition immediately after
    * the read"). The testdata tables are single small parquet files — one
    * row group — so the scan stage, which executes every expression below
    * the first exchange, runs on ONE core regardless of `local[N]`
    * (`files.minPartitionNum` slices the file into ~parallelism byte-range
    * splits, but a row group is read whole by the task whose range covers
    * its midpoint: N−1 empty tasks, one task holding every row). The guard
    * is a byte question, not a split-count question: estimated REAL scan
    * tasks = ceil(bytes / maxPartitionBytes); at or above the session
    * parallelism (any real multi-file table — at 100 TB split counts are in
    * the thousands) this is a no-op, so the exchange only ever moves inputs
    * small enough to have capped scan parallelism in the first place.
    *
    * Apply ONLY where the downstream per-row work dominates the exchange —
    * tokenize→shingle→minhash/md5 folds, heavy regex chains. Interleaved
    * in-session A/B at sf0.1 on a 32-core host (OPTIMIZATION_r06.md,
    * co-tenant noise hitting both arms): heavy chains win 1.3–1.7×
    * (q_dedup_pipeline 1.18→0.70s, q_fingerprint 1.00→0.72s, q_pii_scrub
    * 0.87→0.66s) while cheap map-only queries LOSE 0.2–0.5s to the extra
    * AQE stage + codegen (q_truncate 0.27→0.72s, q_window_events
    * 0.32→0.88s) — which is why this is a per-call-site decision, not a
    * blanket reader rewrite.
    * The spread key must be deterministic (safe under task retry, unlike
    * rand-derived keys) and is the table's primary key so downstream
    * `groupBy(doc_id)` barriers reuse the exchange.
    */
  def spreadSmall(df: DataFrame, key: Column): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val maxSplit = BigInt(sess.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estScanTasks = (bytes + maxSplit - 1) / maxSplit
    if (target > 1 && estScanTasks < target) df.repartition(target, key) else df
  }

  def documents(s: SparkSession, dir: String): DataFrame  = s.read.parquet(s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = s.read.parquet(s"$dir/embeddings.parquet")
  def events(s: SparkSession, dir: String): DataFrame     = s.read.parquet(s"$dir/events.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame   = s.read.parquet(s"$dir/lineitem.parquet")
  def orders(s: SparkSession, dir: String): DataFrame     = s.read.parquet(s"$dir/orders.parquet")
  def customer(s: SparkSession, dir: String): DataFrame   = s.read.parquet(s"$dir/customer.parquet")
  def nation(s: SparkSession, dir: String): DataFrame     = s.read.parquet(s"$dir/nation.parquet")
  def region(s: SparkSession, dir: String): DataFrame     = s.read.parquet(s"$dir/region.parquet")
  def part(s: SparkSession, dir: String): DataFrame       = s.read.parquet(s"$dir/part.parquet")
}
