package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level assembly operators — the steps between a curated document
  * table and a training run: domain mixture sampling, deterministic global
  * shuffle + sharding, and link-graph scoring. (The reference stops at
  * retrieval; these extend the engine along the training-data-pipeline axis
  * like DedupOps/TextAnalysisOps.)
  *
  * All three are RNG-free: sampling and ordering decisions are pure
  * functions of content ids (md5-derived uniform hashes — the same
  * `h60` idiom as stratified split), so a re-run, a retried task, or a
  * different partitioning produces the identical corpus.
  */
object CorpusOps {

  import Idioms.{h60Spark, h60Duck, toksSpark, toksDuck}

  /** The per-domain mixture weight (target sampling rate in ppm, capped at
    * 1.0) — ONE definition per engine, shared by `q_domain_mixture`,
    * `q_mixture_epochs`, and [[withMixture]]: a weighting change that
    * edits one consumer but not the others would silently decouple the
    * epoch plan from the mixture it allocates against. Deterministic
    * function of the domain suffix here (characters 4–13 of `source` as an
    * integer; a source with no such suffix, a real domain name or NULL, gets
    * the cap in both engines); production joins a learned weight table —
    * the consumers don't change.
    */
  private[graft] def domainWeightCol: org.apache.spark.sql.Column =
    least(lit(1000000L),
      lit(50000L) * (lit(1L) + substring(col("source"), 4, 10).try_cast("bigint")))
  private[graft] val domainWeightDuck =
    "least(1000000, 50000 * (1 + TRY_CAST(substring(source, 4, 10) AS BIGINT)))"

  /** Mixture-admission columns (`target_ppm`, `mix_u`): a doc is admitted
    * iff `mix_u < target_ppm`. Shared verbatim by `q_domain_mixture` and the
    * deployed export job ([[graft.pipeline.ExportJob]]) so the two surfaces
    * sample identically by construction.
    */
  def withMixture(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    docs
      .withColumn("target_ppm", domainWeightCol)
      .withColumn("mix_u",
        expr(h60Spark("cast(doc_id as string) || ':' || source")) % 1000000L)
  }

  /** Deterministic shard + intra-shard training order (`shard`, `pos`):
    * ONE hash shuffle + per-shard window — never a global sort. Shared by
    * `q_shuffle_shard` and the export job.
    */
  def withShardPos(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    docs
      .withColumn("shard", expr(h60Spark("'shard:' || cast(doc_id as string)")) % nShards)
      .withColumn("ord", expr(h60Spark("'ord:' || cast(doc_id as string)")))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .drop("ord")
  }

  val ops: Seq[Op] = Seq(

    /** DoReMi/The-Pile-style static domain mixture: each source domain gets
      * a target sampling rate (here a deterministic function of the domain —
      * in production a learned weight table), and a document is admitted iff
      * a uniform hash of (doc_id, source) falls under the domain's rate.
      * Map-only over the corpus (the weight table broadcasts); the report
      * aggregates admitted vs target ppm per domain. At 100 TB: one scan,
      * one partial-agg'd groupBy over ~|domains| rows — the sampling itself
      * never shuffles. Exact-integer ppm math (single integer division) so
      * both engines agree bit-for-bit.
      */
    Op("q_domain_mixture",
      s"""WITH rated AS (
         |  SELECT source,
         |    $domainWeightDuck AS target_ppm,
         |    ${h60Duck("CAST(doc_id AS VARCHAR) || ':' || source")} % 1000000 AS u
         |  FROM documents)
         |SELECT source, target_ppm,
         |  CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(*) FILTER (WHERE u < target_ppm) AS BIGINT) AS sampled,
         |  (count(*) FILTER (WHERE u < target_ppm)) * 1000000 // count(*) AS actual_ppm
         |FROM rated GROUP BY source, target_ppm
         |ORDER BY source""".stripMargin) { (s, dir) =>
      withMixture(Tables.documents(s, dir).select("doc_id", "source"))
        .groupBy(col("source"), col("target_ppm"))
        .agg(count(lit(1)).as("total"),
          count(when(col("mix_u") < col("target_ppm"), 1)).as("sampled"))
        .select(col("source"), col("target_ppm"), col("total"), col("sampled"),
          expr("sampled * 1000000 div total").as("actual_ppm"))
        .orderBy("source")
    },

    /** Deterministic training-order shuffle + sharding: shard =
      * hash(doc_id) mod nShards, position within shard = rank of an
      * independent hash(doc_id). This is how a 100 TB corpus is written out
      * for a data loader: repartition by shard (ONE hash shuffle), sort
      * within each shard partition — never a global sort (a global
      * order-by at corpus scale is a range-exchange over everything, and
      * the loader only needs per-shard order anyway). The two hashes are
      * salted differently so shard assignment and intra-shard order are
      * independent.
      */
    Op("q_shuffle_shard",
      s"""SELECT doc_id,
         |  ${h60Duck("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY ${h60Duck("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
         |    ORDER BY ${h60Duck("'ord:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT) AS pos
         |FROM documents
         |ORDER BY shard, pos""".stripMargin) { (s, dir) =>
      withShardPos(Tables.documents(s, dir).select("doc_id"), 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    },

    /** PageRank over a deterministic doc link graph (doc `id` links to
      * (id+7k) mod n for k = 1 .. 1+id%3, so out-degree varies 1-3 and
      * in-degree varies with it — a regular graph would keep the uniform
      * start vector a fixpoint and prove nothing; the k=1 stratum is the
      * shift id→id+7 mod n, a bijection for EVERY n — a multiplicative
      * stride like 7·id+k loses that whenever gcd(7, n) > 1, silently
      * dropping 4/7 of the nodes from the propagation — so every node
      * keeps ≥1 in-link and none vanish), standing in for a crawl's
      * hyperlink table; 5 synchronous iterations. Rank flows
      * in exact integer micro-units — r'(v) = 0.15 + 0.85·Σ r(u)/deg(u)
      * becomes `150000 + (85 * Σ (r(u) // deg(u))) // 100` — because
      * floating-point PageRank sums in corpus order, and two engines (or two
      * partitionings of the same engine) would disagree in the last ulp.
      * Integer sums are order-free, so the result is bit-stable anywhere.
      *
      * Scale shape: per iteration one equi-join of the narrow (node, rank)
      * table against the degree-annotated edge list (staged once behind an
      * eager checkpoint) + a partial-agg'd sum. The five rounds chain into
      * one fixed-depth plan executed by the final top-k action — with a
      * DATA-dependent round count you'd checkpoint per round to stop plan
      * growth (the connected-components discipline), but a constant five
      * rounds is a 10-operator plan and each per-round eager checkpoint was
      * a driver-blocking job over ~|nodes| rows. Never materializes
      * anything wider than (src, dst, deg) / (node, rank).
      */
    Op("q_pagerank", {
      val n = "(SELECT count(*) FROM documents)"
      val iter = (prev: String, cur: String) =>
        s"""$cur AS (
           |  SELECT e.dst AS node,
           |    150000 + (85 * sum(r.rank // d.deg)) // 100 AS rank
           |  FROM edges e JOIN $prev r ON r.node = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      s"""WITH edges AS (
         |  SELECT doc_id AS src, (doc_id + 7 * t.k) % $n AS dst
         |  FROM documents, unnest([1, 2, 3]) AS t(k)
         |  WHERE t.k <= 1 + doc_id % 3),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS rank FROM documents),
         |${(1 to 5).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")}
         |SELECT node AS doc_id, CAST(rank AS BIGINT) AS rank_micro
         |FROM r5 ORDER BY rank DESC, node LIMIT 100""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      val edges = docs.select(col("doc_id"),
          explode(expr("sequence(1, cast(1 + doc_id % 3 as int))")).as("k"))
        .select(col("doc_id").as("src"), ((col("doc_id") + col("k") * 7) % n).as("dst"))
      // (src, dst, deg) staged ONCE: attaching the out-degree up front
      // halves the per-round joins (rank div deg needs no second join) and
      // the one eager checkpoint truncates lineage for all five rounds.
      // The rounds themselves are NOT checkpointed — five joins + aggs is a
      // small fixed-depth plan, so the whole propagation runs as ONE Spark
      // job at the final top-k instead of a driver-blocking job per round
      // (the eager-per-round form paid ~7 job round-trips for 100 rows).
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val edgesD = edges.join(deg, "src").localCheckpoint(true)
      var rank = docs.select(col("doc_id").as("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to 5) {
        rank = edgesD.join(rank, edgesD("src") === rank("node"))
          .select(col("dst").as("node"), expr("rank div deg").as("contrib"))
          .groupBy("node")
          .agg((lit(150000L) + expr("85 * sum(contrib) div 100")).as("rank"))
      }
      rank.select(col("node").as("doc_id"), col("rank").cast("bigint").as("rank_micro"))
        .orderBy(desc("rank_micro"), asc("doc_id")).limit(100)
    },

    /** Epoch/repeat planning for a token-budget training run (the
      * Chinchilla-style question "how many passes over each domain?"):
      * given per-domain available tokens and the domain's mixture weight,
      * allocate a global token budget (here half the corpus) by weight and
      * report each domain's repeat factor in exact micro-epochs, capped at
      * 4 epochs (the over-sampling ceiling data-constrained scaling work
      * uses). ONE partial-agg'd groupBy over the corpus + a broadcast of
      * the two-scalar totals row; per-domain math is map-side.
      *
      * All arithmetic is exact-integer with overflow-safe decomposition
      * (DuckDB would silently save us in HUGEINT; Spark would silently
      * WRAP — the decomposition keeps both engines exact AND equal):
      * `(budget · w) / totW` is computed as
      * `(budget/totW)·w + ((budget mod totW)·w)/totW` so no intermediate
      * exceeds max(budget, totW·w) — a direct `budget · w` at 100 TB
      * (budget ~2e13 tokens, w up to 1e6) would overflow int64. The
      * epochs ratio `(desired·1e6)/avail` needs TWO stages — the
      * remainder can be ~avail, so even `remainder·1e6` wraps; splitting
      * 1e6 into 1e3·1e3 via the exact identity
      * `⌊r·10⁶/a⌋ = ⌊r·10³/a⌋·10³ + ⌊(r·10³ mod a)·10³/a⌋` keeps every
      * intermediate ≤ a·10³ (int64-safe to ~9e15 tokens per domain).
      */
    Op("q_mixture_epochs",
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(sum(len($toksDuck)) AS BIGINT) AS available_tokens,
         |    $domainWeightDuck AS w
         |  FROM documents GROUP BY source),
         |tot AS (SELECT sum(available_tokens) // 2 AS budget, sum(w) AS tot_w FROM per),
         |alloc AS (
         |  SELECT source, available_tokens, w,
         |    (budget // tot_w) * w + ((budget % tot_w) * w) // tot_w AS desired_tokens
         |  FROM per, tot)
         |SELECT source, available_tokens, CAST(w AS BIGINT) AS target_ppm,
         |  CAST(desired_tokens AS BIGINT) AS desired_tokens,
         |  CAST(least(4000000,
         |    (desired_tokens // available_tokens) * 1000000 +
         |    (((desired_tokens % available_tokens) * 1000) // available_tokens) * 1000 +
         |    ((((desired_tokens % available_tokens) * 1000) % available_tokens) * 1000)
         |      // available_tokens)
         |    AS BIGINT) AS epochs_micro
         |FROM alloc ORDER BY source""".stripMargin) { (s, dir) =>
      val per = Tables.documents(s, dir)
        .select(col("source"), expr(s"size($toksSpark)").cast("long").as("ntok"))
        .groupBy("source").agg(sum(col("ntok")).as("available_tokens"))
        .withColumn("w", domainWeightCol)
      val tot = per.agg(expr("sum(available_tokens) div 2").as("budget"),
        sum(col("w")).as("tot_w"))
      per.crossJoin(broadcast(tot))
        .withColumn("desired_tokens",
          expr("(budget div tot_w) * w + ((budget % tot_w) * w) div tot_w"))
        .select(col("source"), col("available_tokens"), col("w").as("target_ppm"),
          col("desired_tokens"),
          least(lit(4000000L),
            expr("(desired_tokens div available_tokens) * 1000000 + " +
              "(((desired_tokens % available_tokens) * 1000) div available_tokens) * 1000 + " +
              "((((desired_tokens % available_tokens) * 1000) % available_tokens) * 1000)" +
              " div available_tokens"))
            .as("epochs_micro"))
        .orderBy("source")
    }
  )
}
