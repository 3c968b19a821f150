package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact hash,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Cross-engine determinism: every hash is `md5`-derived — the first 15 hex
  * chars parsed as a 60-bit integer — which Spark (native `md5prefix64`,
  * see `Idioms.h60Spark`) and DuckDB (`'0x'||... cast`) compute
  * identically, so signatures/buckets match bit-for-bit between the plan
  * and the oracle.
  *
  * Scale notes: exact dedup is one shuffle on the content hash; MinHash/LSH
  * turns O(n²) similarity into a band-bucket equi-join (shuffle on band
  * hash, candidates only); SimHash is per-row (map-only) + a narrow
  * neighbor join; all signature math is pure Catalyst array lambdas inside
  * whole-stage codegen.
  */
object DedupOps {

  import Idioms.{h60Spark, h60Duck, toksSpark, toksDuck, stopCountSpark, stopCountDuck,
    qualitySpark, qualityDuck, qualityMicroSpark, qualityMicroDuck, shinglesSpark, shinglesDuck,
    splitSpark, splitDuck, dupFracSpark, dupFracDuck}

  /** LSH tuning knobs. Capture probability for Jaccard s is
    * 1 - (1 - s^RowsPerBand)^NumBands; with (2 bands × 4 rows) the S-curve
    * crosses 50% at s ≈ (1-(1/2)^(1/2))^(1/4) ≈ 0.73 — matched to the
    * pipeline's exact-Jaccard ≥ 0.5 verify so near-threshold pairs still
    * surface while candidate volume stays ~linear. Raise NumBands (more
    * signatures) for higher recall at lower thresholds; raise RowsPerBand
    * for stricter candidates. Band expressions below derive from these, so
    * tuning is a one-line change on BOTH engines.
    */
  private val NumBands     = 2
  private val RowsPerBand  = 4
  private val NumHashes    = NumBands * RowsPerBand
  // q_minhash_calibration quantizes its estimate to 1e6/NumHashes micro
  // units with INTEGER division on both engines; a NumHashes that doesn't
  // divide 1e6 (e.g. 12) would floor the quantum and put a spurious
  // err_micro on every exact match — fail the retune loudly instead
  require(1000000 % NumHashes == 0,
    s"NumHashes=$NumHashes must divide 1e6 exactly (calibration quantum)")
  // Spark side: the native one-pass batch fold (functions/MinHashSigs —
  // bit-identical to the portable per-j form below, which remains the
  // oracle text; see MinHashSigsSpec for the equality gate)
  private val mhSparkAll = s"minhash_sigs(shingles, $NumHashes)"
  /** The `sigs` array column split into the `mh0..mh{NumHashes-1}` columns. */
  private def mhCols: Seq[org.apache.spark.sql.Column] =
    (0 until NumHashes).map(j => col("sigs")(j).as(s"mh$j"))
  private def mhDuck(j: Int)  = s"list_min(list_transform(shingles, s -> ${h60Duck(s"s || '#$j'")}))"
  private val mhDuckCols = (0 until NumHashes).map(j => s"${mhDuck(j)} AS mh$j").mkString(", ")

  /** (band index, band-hash expr) per band — the expression string is valid
    * in BOTH engines, so the bucketing can never silently diverge.
    */
  private def bandDefs: Seq[(Int, String)] =
    (0 until NumBands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(j => s"mh$j")
      (b, s"md5(concat_ws('|', ${cols.mkString(", ")}))")
    }

  private def bandsDuckSql: String =
    bandDefs.map { case (b, h) => s"SELECT doc_id, $b AS band, $h AS bh FROM sig" }
      .mkString("\n  UNION ALL\n  ")

  // One projection computing ALL band hashes, exploded to (band, bh) rows —
  // NOT a per-band union: column pruning would specialize each union branch
  // to its own 4 mh columns, splitting the signature aggregate into two
  // non-reusable exchanges (two documents scans instead of one).
  private[graft] def bandsSpark(sig: org.apache.spark.sql.DataFrame) =
    sig.select(col("doc_id"),
      posexplode(array(bandDefs.map { case (_, h) => expr(h) }: _*)).as(Seq("band", "bh")))

  /** LSH band-bucket rows for an arbitrary text-bearing frame: every input
    * row with >= 3 tokens explodes to `NumBands` rows carrying `(band,
    * bh)`, all original columns preserved. Shared by the batch near-dup
    * path and the STREAMING in-horizon dedup — same tokenizer, shingle,
    * `minhash_sigs`, and band-hash expressions, so the two paths bucket
    * identically by construction.
    */
  private[graft] def withBandBuckets(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(docs.sparkSession)
    val orig = docs.columns.map(col).toSeq
    docs
      .withColumn("toks", expr(toksSpark))
      .where(expr("size(toks) >= 3"))
      .withColumn("shingles", expr(s"array_distinct($shinglesSpark)"))
      .withColumn("sigs", expr(mhSparkAll))
      .select(orig ++ mhCols: _*)
      .select(orig :+ posexplode(array(bandDefs.map { case (_, h) => expr(h) }: _*))
        .as(Seq("band", "bh")): _*)
  }

  private val sigDuckCte =
    s"""sig AS (
       |  SELECT doc_id, $mhDuckCols
       |  FROM (SELECT doc_id, $shinglesDuck AS shingles FROM documents WHERE len($toksDuck) >= 3))""".stripMargin

  /** Signature table derived from the barrier'd distinct-shingle table —
    * the round-6 one-scan shape: [[shingleSetSpark]]'s single documents
    * scan feeds the minhash fold here AND both sides of the exact-Jaccard
    * verify join (MinHash is duplicate-insensitive, so signatures over the
    * DISTINCT sets equal the oracle's multiset fold — the precedent
    * verdictsFrom already relies on). The fold is pinned behind a
    * SECOND Aggregate barrier before the per-column extraction (the 8
    * `mh$j` projections would otherwise each re-inline it — the
    * q_simhash_pairs lesson); that barrier rides the shingle barrier's
    * doc_id partitioning, so it adds NO exchange. At 100 TB this narrow
    * (doc_id, mh0..mh7) table is what you'd persist anyway.
    */
  private[graft] def sigFromShingles(sh: org.apache.spark.sql.DataFrame) =
    sh.select(col("doc_id"), expr(s"minhash_sigs(sh, $NumHashes)").as("sigs"))
      .groupBy(col("doc_id")).agg(first(col("sigs")).as("sigs"))
      .select(col("doc_id") +: mhCols: _*)

  private[graft] def sigSpark(s: org.apache.spark.sql.SparkSession, dir: String) = {
    graft.functions.GraftFunctions.ensure(s)
    sigFromShingles(shingleSetSpark(s, dir))
  }

  /** Distinct-shingle-set table behind the Aggregate barrier — ONE
    * documents scan feeding the signature derivation ([[sigFromShingles]])
    * and both sides of the exact-Jaccard verify join.
    *
    * `spread` (see [[Tables.spreadSmall]]): ON for the verified-pairs
    * family, where the table also feeds the 8-permutation minhash fold and
    * the interleaved A/B wins decisively (q_minhash_lsh_pairs 1.00→0.50s,
    * q_minhash_calibration 1.12→0.81s, q_dedup_pipeline 1.26→0.95s); OFF
    * for the direct consumers without the sig fold (q_ngram_jaccard
    * 0.69→0.85s, q_decontaminate 0.57→1.01s with spread — the extra AQE
    * stage costs more than the single-task shingle pass there).
    */
  private def shingleSetSpark(s: org.apache.spark.sql.SparkSession, dir: String,
      spread: Boolean = true) = {
    val base = Tables.documents(s, dir)
    (if (spread) Tables.spreadSmall(base, col("doc_id")) else base)
      .select(col("doc_id"), expr(toksSpark).as("toks"))
      .where(expr("size(toks) >= 3"))
      .select(col("doc_id"), expr(s"array_distinct($shinglesSpark)").as("sh"))
      .groupBy(col("doc_id")).agg(first(col("sh")).as("sh"))
  }

  /** Batch-vs-corpus incremental dedup verdicts — ONE implementation
    * shared by `q_incremental_dedup` (corpus bands recomputed in-query)
    * and `DedupState.dedupBatch` (corpus bands read from the persisted
    * state), so the verdict rule and the collision predicate cannot drift
    * between the oracled operator and the deployed path. `batch` must
    * carry (doc_id, text); a batch doc is 'dup' iff any of its LSH bands
    * collides with a corpus band; the batch side broadcasts.
    *
    * `batchRows`: a caller that KNOWS the batch row count (the streaming
    * sink, whose micro-batch is persisted — a post-downtime backlog batch
    * can be arbitrarily large) passes it so the broadcast hint is dropped
    * above [[DeltaBatches.BroadcastMaxRows]] and the planner shuffles
    * instead of OOMing the driver on a batch the stream can never drain.
    * None (the oracled `q_incremental_dedup`, whose batch is bounded by
    * construction) keeps the unconditional hint.
    */
  private[graft] def incrementalVerdicts(batch: DataFrame, corpusBands: DataFrame,
      batchRows: Option[Long] = None): DataFrame = {
    val hintOk = batchRows.forall(_ <= DeltaBatches.BroadcastMaxRows)
    def maybeBroadcast(df: DataFrame) = if (hintOk) broadcast(df) else df
    val batchBands = withBandBuckets(batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("band"), col("bh"))
    val dup = maybeBroadcast(batchBands)
      .join(corpusBands.select(col("band"), col("bh")), Seq("band", "bh"))
      .select(col("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(maybeBroadcast(dup.withColumn("is_dup", lit(1))), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_dup").isNull, "kept").otherwise("dup").as("status"))
  }

  /** LSH candidate pairs `(doc_a < doc_b)` from the banded signature
    * table — the pre-verification set; shared by [[verifiedPairsSpark]]
    * and the calibration report.
    */
  private def lshCandidatesSpark(sig: DataFrame): DataFrame = {
    val bands = bandsSpark(sig)
    bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The exact-Jaccard verify: the candidate pairs whose distinct shingle
    * sets (column `shCol` of the doc_id-keyed table `sh`) have n-gram
    * Jaccard ≥ 0.5, as `(doc_a, doc_b, jaccard)` with the score rounded to
    * 4 places (a consumer that drops it prunes the rounding away). The
    * Spark twin of the `pairs` CTE in [[verifiedPairsDuckCtes]].
    */
  private def jaccardVerifiedSpark(cand: DataFrame, sh: DataFrame, shCol: String): DataFrame = {
    val jac = size(array_intersect(col(s"x.$shCol"), col(s"y.$shCol"))).cast("double") /
      size(array_union(col(s"x.$shCol"), col(s"y.$shCol"))).cast("double")
    cand.join(sh.as("x"), col("x.doc_id") === col("doc_a"))
      .join(sh.as("y"), col("y.doc_id") === col("doc_b"))
      .where(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }

  /** Verified near-dup pairs — the dedup pipeline's core: LSH candidates
    * ([[lshCandidatesSpark]] over the barrier'd signature table) → exact
    * n-gram Jaccard ≥ 0.5 ([[jaccardVerifiedSpark]]). The Spark twin of
    * [[verifiedPairsDuckCtes]]' `pairs` CTE, read by the pipeline,
    * clusters, keep-best and dup-rate operators; curation composes the
    * same two helpers over its staged doc-feature table.
    */
  private def verifiedPairsSpark(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // ONE barrier'd shingle table: the signature branch and both verify
    // sides reference the identical subtree, so the scan + tokenize +
    // shingle pass runs once and the other references are ReusedExchange
    // (plan-gated; previously sig and shingles were two separate scans).
    val sh = shingleSetSpark(s, dir)
    jaccardVerifiedSpark(lshCandidatesSpark(sigFromShingles(sh)), sh, "sh")
  }

  /** The benchmark holdout: doc_id % 97 = 0. */
  private def benchSpark: org.apache.spark.sql.Column = col("doc_id") % 97 === 0
  private val benchDuck = "doc_id % 97 = 0"

  /** Benchmark decontamination matches `(shingle, doc_id)`: every shingle
    * of a training doc (column `shCol` of the doc_id-keyed table `sh`)
    * that also occurs in a [[benchSpark]] holdout doc. The benchmark is
    * always tiny next to the corpus, so its distinct-shingle set
    * BROADCASTS and the match is a map-side hash join over the exploded
    * training shingles — no shuffle of the corpus. `q_decontaminate`
    * counts the matches; curation takes their distinct doc_ids.
    */
  private def benchMatchesSpark(sh: DataFrame, shCol: String): DataFrame = {
    val bench = sh.where(benchSpark).select(explode(col(shCol)).as("shingle")).distinct()
    sh.where(!benchSpark)
      .select(col("doc_id"), explode(col(shCol)).as("shingle"))
      .join(broadcast(bench), "shingle")
  }

  /** DuckDB twin of [[benchMatchesSpark]] over the `sh` CTE ([[shDuckCte]]):
    * `bench_hits(doc_id, shingle)`.
    */
  private val benchMatchesDuckCtes =
    s"""bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE $benchDuck),
       |bench_hits AS (
       |  SELECT t.doc_id, t.shingle
       |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE NOT ($benchDuck)) t
       |  JOIN bench b ON b.shingle = t.shingle)""".stripMargin

  /** Exact-substring dedup tuning (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" family, re-expressed
    * relationally). `SubK` is the token width of the exact grams whose
    * hashes are joined; `SubW` is the winnowing window over the gram-hash
    * sequence that selects the candidate fingerprints. Recall guarantee:
    * any cross-document VERBATIM run of `SubW + SubK - 1` tokens contains a
    * full winnowing window of shared gram hashes, so both documents select
    * the same fingerprint and the pair becomes a candidate — runs of at
    * least `SubMinRun` tokens are therefore found with certainty (modulo
    * 60-bit hash collisions); shorter exact matches only surface when the
    * pair is already a candidate. The suffix-array formulation of the paper
    * needs a global sort; this gram-hash + diagonal-island formulation is
    * the shuffle-friendly equivalent: one equi-join + one window, no
    * all-pairs step, candidate pairs bound the quadratic work.
    */
  private val SubK = 8
  private val SubW = 4
  private val SubMinRun = SubW + SubK - 1

  /** The per-doc k-gram hash ARRAY table `(doc_id, khs)` behind an
    * Aggregate barrier: ONE documents scan feeds the winnowed fingerprints
    * and (exploded to rows) both sides of the verify join — without the
    * barrier each consumer would re-inline the tokenize→md5 chain and
    * re-scan `documents` (the sigSpark pattern; at 100 TB this narrow
    * table is what you'd persist between runs). Round-6 shape change: the
    * previous barrier keyed (doc_id, pos) rows, forcing a wider exchange
    * AND a doc_id-partitioned window sort for the winnowing step; the
    * array form keys doc_id only and makes winnowing a map-only array
    * fold ([[substringRunsSpark]]).
    */
  private def kgramSpark(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val khExpr = h60Spark(s"concat_ws(' ', slice(toks, i, $SubK))")
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(toksSpark).as("toks"))
      .where(expr(s"size(toks) >= $SubK"))
      .select(col("doc_id"),
        expr(s"transform(sequence(1, size(toks) - ${SubK - 1}), i -> $khExpr)").as("khs"))
      .groupBy(col("doc_id")).agg(first(col("khs")).as("khs"))
  }

  /** Maximal cross-document exact token runs ≥ [[SubMinRun]]:
    * `(doc_a, doc_b, pos_a, pos_b, run_len)` with `doc_a < doc_b`,
    * positions 0-based in tokens. Winnowed fingerprints (w=[[SubW]] over
    * the [[SubK]]-gram hashes) nominate candidate PAIRS; only those pairs'
    * gram tables are equi-joined on hash; matched positions group into
    * maximal runs as islands of consecutive `pos_a` along each alignment
    * diagonal `pos_a - pos_b` (the run length adds the gram width back).
    * Shared by `q_substring_dedup` and `q_substring_coverage`.
    */
  private def substringRunsSpark(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kg = kgramSpark(s, dir)
    // winnow: every full SubW-window's minimum over the hash sequence
    // (short docs: one window over the whole array, mirroring the oracle's
    // `h[s : least(s+wEnd, len(h))]`). MAP-ONLY native one-pass fold over
    // the barrier'd khs; the per-doc array_distinct replaces a row-level
    // distinct (fingerprints of different docs can't collide on the
    // (doc_id, fp) key). The winnow rightmost-tie POSITION is discarded:
    // only the fingerprint VALUE set feeds candidate nomination.
    val winnowFps = s"array_distinct(transform(winnow_pairs(khs, $SubW), p -> p.fp))"
    // explode_OUTER: exempts the generator from InferFiltersFromGenerate,
    // whose inferred `size/isnotnull` filter re-evaluates the winnow fold
    // two extra times above the barrier (kg guarantees non-empty khs, so
    // outer ≡ inner here — same rows)
    val fps = kg.select(col("doc_id"), explode_outer(expr(winnowFps)).as("fp"))
    val cand = fps.as("fa")
      .join(fps.as("fb"), col("fa.fp") === col("fb.fp") && col("fa.doc_id") < col("fb.doc_id"))
      .select(col("fa.doc_id").as("doc_a"), col("fb.doc_id").as("doc_b"))
      .distinct()
    // verify + extend: gram rows restricted to candidate docs (cand is the
    // small side — it broadcasts), then ONE hash equi-join; never all-pairs
    val kgRows = kg.select(col("doc_id"), posexplode(col("khs")).as(Seq("pos", "kh")))
    val m = cand
      .join(kgRows.as("a"), col("doc_a") === col("a.doc_id"))
      .join(kgRows.as("b"), col("doc_b") === col("b.doc_id") && col("a.kh") === col("b.kh"))
      .select(col("doc_a"), col("doc_b"), col("a.pos").as("pa"), col("b.pos").as("pb"))
    val diag = Window.partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy("pa")
    m.withColumn("grp", col("pa") - row_number().over(diag))
      .groupBy(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("d"), col("grp"))
      .agg(min(col("pa")).as("pos_a"), min(col("pb")).as("pos_b"),
        (max(col("pa")) - min(col("pa")) + SubK).as("run_len"))
      .where(col("run_len") >= SubMinRun)
      .select(col("doc_a"), col("doc_b"),
        col("pos_a").cast("bigint").as("pos_a"), col("pos_b").cast("bigint").as("pos_b"),
        col("run_len").cast("bigint").as("run_len"))
  }

  /** Covered token positions per duplicated doc — `(doc_id, tok)` with tok
    * 0-based, one row per position inside any ≥[[SubMinRun]] run whose
    * keeper is a lower-id doc. ONE copy shared by `q_substring_coverage`
    * and `q_substring_strip`: the strip op's correctness contract is
    * agreement with the coverage report, so a one-sided edit here (e.g. an
    * off-by-one on run_len) must be impossible by construction.
    */
  private def substringCoveredSpark(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    substringRunsSpark(s, dir)
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("pos_b"), col("pos_b") + col("run_len") - 1)).as("tok"))
      .distinct()

  /** DuckDB twin of [[substringCoveredSpark]] (reads `kruns`; emits `kcovpos`). */
  private def substringCoveredDuckCte: String =
    s"""kcovpos AS (
       |  SELECT DISTINCT doc_b AS doc_id, p AS tok
       |  FROM kruns, LATERAL unnest(generate_series(pos_b, pos_b + run_len - 1)) v(p))""".stripMargin

  /** DuckDB twin of [[substringRunsSpark]] — CTE chain ending in `kruns`
    * (the winnowing formulation mirrors the q_winnow oracle, w=[[SubW]]).
    */
  private def substringRunsDuckCtes: String = {
    val kEnd = SubK - 1
    val wEnd = SubW - 1
    s"""kt AS (SELECT doc_id, $toksDuck AS toks FROM documents
       |       WHERE len($toksDuck) >= $SubK),
       |kg AS MATERIALIZED (
       |  SELECT doc_id, i - 1 AS pos,
       |    ${h60Duck(s"array_to_string(toks[i:i+$kEnd], ' ')")} AS kh
       |  FROM kt, LATERAL unnest(generate_series(1, len(toks) - $kEnd)) u(i)),
       |khs AS (SELECT doc_id, list(kh ORDER BY pos) AS h FROM kg GROUP BY doc_id),
       |kwins AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(len(h) - $SubW + 1, 1)), s ->
       |      list_min(h[s : least(s + $wEnd, len(h))])) AS fps
       |  FROM khs),
       |kfps AS MATERIALIZED (SELECT DISTINCT doc_id, u.fp AS fp
       |         FROM (SELECT doc_id, unnest(fps) AS fp FROM kwins) u(doc_id, fp)),
       |kcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM kfps a JOIN kfps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |km AS (
       |  SELECT c.doc_a, c.doc_b, a.pos AS pa, b.pos AS pb
       |  FROM kcand c
       |  JOIN kg a ON a.doc_id = c.doc_a
       |  JOIN kg b ON b.doc_id = c.doc_b AND b.kh = a.kh),
       |kisl AS (
       |  SELECT doc_a, doc_b, pa, pb,
       |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       |  FROM km),
       |kruns AS (
       |  SELECT doc_a, doc_b, min(pa) AS pos_a, min(pb) AS pos_b,
       |         max(pa) - min(pa) + $SubK AS run_len
       |  FROM kisl GROUP BY doc_a, doc_b, pa - pb, grp
       |  HAVING max(pa) - min(pa) + $SubK >= $SubMinRun)""".stripMargin
  }

  /** The distinct-shingle-set CTE `sh(doc_id, sh)` of every doc with
    * >= 3 tokens — the DuckDB twin of [[shingleSetSpark]].
    */
  private val shDuckCte =
    s"""sh AS (SELECT doc_id, list_distinct($shinglesDuck) AS sh
       |       FROM documents WHERE len($toksDuck) >= 3)""".stripMargin

  /** DuckDB twin of [[lshCandidatesSpark]]: `sig → bands → cand(doc_a, doc_b)`. */
  private def lshCandidatesDuckCtes: String =
    s"""$sigDuckCte,
       |bands AS (
       |  $bandsDuckSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin

  /** Verified near-dup pair CTE chain — `sig → bands → cand → sh →
    * pairs(doc_a, doc_b, jaccard)` — the DuckDB twin of
    * [[verifiedPairsSpark]], factored to ONE copy: five oracles read the
    * pair table (pipeline, clusters, keep-best, dup-rate, curation), and a
    * threshold or band tweak applied to fewer than all of them would
    * silently desynchronize an oracle from the Spark side it checks.
    */
  private def verifiedPairsDuckCtes: String =
    s"""$lshCandidatesDuckCtes,
       |$shDuckCte,
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |          CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE), 4) AS jaccard
       |  FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE) >= 0.5)""".stripMargin

  /** Connected-components labeling over `pairs` — `edges → reach →
    * lbl(doc_id, cluster)`. `reach` recurses, so callers must open with
    * WITH RECURSIVE.
    */
  private def ccLblDuckCtes: String =
    s"""edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u)""".stripMargin

  /** The curation pipeline's CTE chain, shared by the `q_curation_pipeline`
    * and `q_curation_funnel` oracles (callers prepend WITH RECURSIVE). It
    * composes the same definitions the operators' oracles use: the
    * verified pairs of [[verifiedPairsDuckCtes]], the decontamination
    * matches of [[benchMatchesDuckCtes]], and the `Idioms` quality
    * composite, stop count, shingle and duplicate fraction — the DuckDB side of
    * [[verdictsFrom]].
    */
  private def curationDuckCtes: String =
    s"""$verifiedPairsDuckCtes,
       |$ccLblDuckCtes,
       |dup_drops AS (SELECT doc_id FROM lbl WHERE cluster <> doc_id),
       |$benchMatchesDuckCtes,
       |contaminated AS (SELECT DISTINCT doc_id FROM bench_hits),
       |scored AS (
       |  SELECT doc_id, lang,
       |    ${qualityDuck(s"len($toksDuck)", stopCountDuck(toksDuck))} AS quality,
       |    ${dupFracDuck(s"len(list_distinct($shinglesDuck))", s"len($toksDuck) - 2")} AS dup_frac
       |  FROM documents WHERE len($toksDuck) >= 3)""".stripMargin

  /** The one-pass doc-feature projection every curation stage derives from:
    * `(doc_id, lang, n_toks, n_stops, shingles)` — exactly the narrow table
    * a 100 TB curation job persists as its first stage.
    */
  def docFeatures(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensure(s)
    Tables.spreadSmall(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), col("lang"), expr(toksSpark).as("toks"))
      .where(expr("size(toks) >= 3"))
      .select(col("doc_id"), col("lang"),
        expr("size(toks)").as("n_toks"),
        expr(stopCountSpark("toks")).as("n_stops"),
        expr(s"array_distinct($shinglesSpark)").as("shingles"))
  }

  private def verdicts(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    verdictsFrom(docFeatures(s, dir).localCheckpoint(true))

  /** The per-doc verdict table over an already-materialized doc-feature
    * table: one row per tokenizable doc, `(doc_id, lang, quality)` plus the
    * five cumulative funnel flags `f_bench, f_quality, f_rep, f_cont,
    * f_dup`. The curated table is the AND of the flags and the funnel is
    * one conditional aggregate over them, so each predicate is stated once
    * and both outputs read the same table. The stages compose the shared
    * definitions ([[lshCandidatesSpark]], [[jaccardVerifiedSpark]],
    * [[benchMatchesSpark]], `Idioms.qualitySpark` / `dupFracSpark`); their DuckDB twins
    * make up [[curationDuckCtes]]. The anti joins of the stage predicates
    * are left joins + null tests here: doc_ids are unique on both sides, so
    * no fanout and identical membership.
    */
  private def verdictsFrom(base: DataFrame): DataFrame = {
    // signatures straight off the staged table: sigFromShingles' Aggregate
    // barrier would add an exchange over it
    val sig = base.select(col("doc_id"), expr(mhSparkAll).as("sigs"))
      .select(col("doc_id") +: mhCols: _*)
    val pairs = jaccardVerifiedSpark(lshCandidatesSpark(sig), base, "shingles")
      .select(col("doc_a"), col("doc_b"))
    // near-dup victims: every clustered doc except its component's min
    val dupDrops = connectedComponents(pairs)
      .where(col("cluster") =!= col("doc_id")).select(col("doc_id"), lit(1).as("is_dup"))
    val contaminated = benchMatchesSpark(base, "shingles")
      .select(col("doc_id")).distinct().withColumn("is_cont", lit(1))
    base.select(col("doc_id"), col("lang"),
        qualitySpark(col("n_toks"), col("n_stops")).as("quality"),
        dupFracSpark(size(col("shingles")), col("n_toks") - 2).as("dup_frac"))
      .join(contaminated, Seq("doc_id"), "left")
      .join(dupDrops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("quality"),
        (!benchSpark).as("f_bench"),
        (col("quality") >= 0.5).as("f_quality"),
        (col("dup_frac") <= 0.05).as("f_rep"),
        col("is_cont").isNull.as("f_cont"),
        col("is_dup").isNull.as("f_dup"))
  }

  private val funnelFlags: Seq[String] = Seq("f_bench", "f_quality", "f_rep", "f_cont", "f_dup")

  private def curatedFrom(v: DataFrame): DataFrame =
    v.where(funnelFlags.map(col).reduce(_ && _))
      .select(col("doc_id"), col("lang"), col("quality"), splitSpark.as("split"))
      .orderBy("doc_id")

  /** Per-stage drop reason strings — shared verbatim by the Spark funnel
    * and the DuckDB oracle (hash-compared, so they must match exactly).
    */
  private val funnelReasons: Seq[(String, String)] = Seq(
    "0_base"            -> "tokenizable corpus (>= 3 tokens)",
    "1_not_benchmark"   -> "benchmark holdout member",
    "2_quality"         -> "quality score below 0.5",
    "3_repetition"      -> "duplicate 3-gram fraction above 0.05",
    "4_decontaminated"  -> "shares a shingle with the benchmark set",
    "5_deduped"         -> "non-keeper in a near-dup cluster")

  private def funnelFrom(v: DataFrame): DataFrame = {
    // ONE conditional-aggregation pass instead of a six-branch count union:
    // each funnel stage is a cumulative conjunction of the verdict flags,
    // so all six survivor counts ride a single aggregate. The six report
    // rows (and the dropped = prevStage − stage differences) are then built
    // IN-PLAN from the one aggregate row — no per-stage job, no window, no
    // data-sized anything above the aggregate.
    val cum = funnelFlags.map(col)
      .scanLeft(lit(true))(_ && _) // cumulative stage predicates, 0_base first
    val agg = v.agg(
      count(when(cum(0), 1)).as("c0"),
      cum.tail.zipWithIndex.map { case (c, i) => count(when(c, 1)).as(s"c${i + 1}") }: _*)
    val stageRows = funnelReasons.zipWithIndex.map { case ((stage, reason), i) =>
      struct(
        lit(stage).as("stage"),
        col(s"c$i").as("docs"),
        (if (i == 0) lit(0L) else col(s"c${i - 1}") - col(s"c$i")).as("dropped"),
        lit(reason).as("reason"))
    }
    agg.select(explode(array(stageRows: _*)).as("r"))
      .select(col("r.stage").as("stage"), col("r.docs").as("docs"),
        col("r.dropped").as("dropped"), col("r.reason").as("reason"))
      .orderBy("stage")
  }

  /** Deployed-job curation (CurateMain): the doc-feature table is staged to
    * DURABLE storage, a [[graft.pipeline.VersionedTable]] root at
    * `<stageDir>/features` whose generation commits marker-after-data with
    * the input digest; the rest of the job reads the staged copy.
    * Durability contract: everything up to the feature stage is durable;
    * connected components' labels and the verdict table are
    * `localCheckpoint`s, whose blocks die with their executor — a lost
    * executor after the stage fails the job, and a re-run resumes from the
    * durable stage without touching the input. Resume semantics: a
    * committed generation is reused for the same input or for an
    * unreachable one (tested by resuming against a deleted input dir); a
    * refreshed input, or a crash before the commit, rewrites the stage.
    * One generation is kept, because the stage is its own only reader.
    * Everything downstream is a pure function of the staged table, so a
    * re-run after any crash converges to identical output. The verdict
    * table is built (eagerly checkpointed) by this call; both returned
    * frames read only it.
    */
  def curationRunStaged(
      s: org.apache.spark.sql.SparkSession,
      dir: String,
      stageDir: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensure(s) // a resume skips docFeatures
    val (featDir, _) = graft.pipeline.VersionedTable.reuseOrInstall(
      s, s"$stageDir/features", "curation-features-v1", dir, keepGenerations = 1) { gen =>
      docFeatures(s, dir).write.parquet(gen)
    }
    val v = verdictsFrom(s.read.parquet(featDir)).localCheckpoint(true)
    (curatedFrom(v), funnelFrom(v))
  }

  /** Connected components over an undirected pair list (`doc_a`, `doc_b`)
    * by min-label propagation WITH pointer jumping: every node starts
    * labeled with min(own id, neighbor ids) — the first propagate step
    * folded into the initialization aggregate; each round (1) takes the min of its label and
    * its neighbors' labels, then (2) shortcuts through its label's label
    * (l(u) ← l(l(u))). The invariant is that a label is always the id of a
    * smaller-or-equal node in the SAME component, so both steps are sound;
    * the component min is the unique fixpoint. Propagation alone needs
    * diameter rounds; the jump step doubles the propagation distance each
    * round, giving O(log diameter) — a 1000-link dup chain closes in ~10
    * rounds, not 1000 (asserted in `DedupClusterSpec`). Same round budget
    * as the alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) with a
    * simpler, monotone round body.
    *
    * Scale shape: per round TWO shuffle joins over narrow (node, label)
    * tables (edges ⨝ labels, labels ⨝ labels) + one min-aggregate — never a
    * transitive-closure materialization, never a data-sized collect.
    * Convergence is detected by counting rows whose label CHANGED this
    * round (a co-partitioned join of next against prior labels) — an exact
    * test. A label-sum comparison would be one join cheaper but wraps mod
    * 2^64: with arbitrary 64-bit doc_ids a nonzero decrease that happens to
    * be ≡ 0 (mod 2^64) would falsely read as converged and return an
    * unconverged labeling. `localCheckpoint` truncates each round's lineage
    * so the plan doesn't grow with iteration count.
    *
    * Early exit: before the first round, an exact SETTLED test (a join, an
    * aggregate, a count: no edge (u, v) has label(u) ≠ label(v)) is the proof
    * round. Labels that agree across every edge are constant per
    * component, and by the invariant that constant is the component's min
    * (no sum, so nothing can wrap). Components whose min neighbours every
    * node (pairs, stars around their min) settle from the seed and run no
    * propagate/jump round; so do the verified-pair graphs of sf0.001–sf0.1
    * and of the perfbench `curate` input. A graph that does not settle
    * pays the check on top of its rounds (≈0.4 s at local[4] for 1,000
    * six-node chains, whose three rounds take ≈1.3–2 s).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    connectedComponentsWithStats(pairs, maxIters)._1

  /** As [[connectedComponents]], also returning the number of rounds run
    * (including the proof: the settled check, or the final no-change
    * round).
    */
  def connectedComponentsWithStats(pairs: DataFrame, maxIters: Int = 25): (DataFrame, Int) = {
    // edges is marked for a lazy local checkpoint, which is not free under
    // AQE: localCheckpoint(false) runs as its own SQL execution
    // ("localCheckpoint at DedupOps.scala"), and planning its RDD
    // materialises every shuffle stage below it, i.e. the verified-pairs
    // stages (3 jobs on the perfbench curate input). Only edges' final,
    // exchange-free stage is deferred: the eager labels checkpoint below
    // computes and stores it. Every round then reads the truncated RDD.
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint(false)
    // Seeded start: label₀(u) = min(u, min neighbor) — exactly what round
    // one's propagate step would compute from own-id labels, folded into
    // the initialization aggregate for free (same exchange the old
    // `distinct()` paid). Every run converges one round earlier; the
    // invariant (a label is a smaller-or-equal node of the SAME component)
    // holds from the seed, so the fixpoint is unchanged.
    var labels = edges.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("cluster"))
      .select(col("u").as("doc_id"), col("cluster"))
      .localCheckpoint(true)
    // early exit (see the scaladoc): a seed no edge disagrees with is final.
    // v's seed label is least(v, min u) (edges are symmetric), so one labels
    // join suffices; a second one let AQE's runtime build-side choice decide
    // whether the first join's broadcast was reused (± one job per run)
    val settled = edges
      .join(labels.select(col("doc_id").as("u"), col("cluster").as("cu")), "u")
      .groupBy(col("v"))
      .agg(least(col("v"), min("u")).as("cv"), min("cu").as("lo"), max("cu").as("hi"))
      .where(col("lo") =!= col("cv") || col("hi") =!= col("cv"))
      .count() == 0L
    var converged = settled
    var it = if (settled) 1 else 0
    while (!converged && it < maxIters) {
      val viaNbr = edges.join(labels, edges("v") === labels("doc_id"))
        .select(edges("u").as("doc_id"), col("cluster"))
      val prop = labels.unionByName(viaNbr)
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
      // pointer jump: follow the label's own label (always present — every
      // label is a node id, and every node has a labels row)
      val jump = prop.select(col("doc_id").as("j_id"), col("cluster").as("j_cluster"))
      // prev_cluster rides the round's own plan so the exact convergence
      // test is a filter-count over the checkpointed output — ONE Spark job
      // per round (lazy checkpoint materialized by the count) instead of a
      // checkpoint job plus a separate next⨝labels job.
      val next = prop.join(jump, prop("cluster") === jump("j_id"))
        .join(labels.select(col("doc_id"), col("cluster").as("prev_cluster")), "doc_id")
        .select(prop("doc_id"), col("j_cluster").as("cluster"), col("prev_cluster"))
        .localCheckpoint(false)
      val changed = next.where(col("cluster") =!= col("prev_cluster")).count()
      converged = changed == 0L
      labels = next.select(col("doc_id"), col("cluster"))
      it += 1
    }
    require(converged, s"connectedComponents did not converge within $maxIters rounds")
    (labels, it)
  }

  val ops: Seq[Op] = Seq(

    // Exact dedup: hash-groupBy on full content, min-id keeper.
    Op("q_dedup_exact",
      """SELECT md5(text) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS keeper,
        |       CAST(count(*) AS BIGINT) AS copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
        .orderBy("content_hash")
    },

    // MinHash signatures: 8 permutations over 3-gram word shingles.
    Op("q_minhash_signatures",
      s"""SELECT doc_id, ${(0 until NumHashes).map(j => s"mh$j").mkString(", ")}
         |FROM (WITH $sigDuckCte SELECT * FROM sig)
         |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      sigSpark(s, dir).where(col("doc_id") < 100).orderBy("doc_id")
    },

    // MinHash + LSH candidate pairs (bands derived from NumBands ×
    // RowsPerBand above): docs sharing a band bucket become candidates via
    // an equi-join on the band hash (the at-scale path: no pairwise cross
    // product ever materializes).
    Op("q_minhash_lsh_pairs",
      s"""WITH $lshCandidatesDuckCtes
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshCandidatesSpark(sigSpark(s, dir)).orderBy("doc_a", "doc_b")
    },

    // SimHash: 32-bit signature from distinct-word hashes (per-row array
    // math, map-only), plus hamming distance to the neighboring doc.
    Op("q_simhash",
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 31), b ->
         |      CASE WHEN 2 * len(list_filter(hashes, h -> ((h >> b) & 1) = 1)) >= len(hashes)
         |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM (SELECT doc_id,
         |          list_transform(list_distinct($toksDuck), t -> ${h60Duck("t")}) AS hashes
         |        FROM documents WHERE len($toksDuck) > 0))
         |SELECT a.doc_id, a.simhash,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming_next
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), expr(toksSpark).as("toks"))
        .where(expr("size(toks) > 0"))
        .select(col("doc_id"),
          expr(s"transform(array_distinct(toks), t -> ${h60Spark("t")})").as("hashes"))
        // native one-pass majority vote (functions/SimHashBits) — the
        // portable per-bit fold remains the oracle text above
        .select(col("doc_id"), expr("simhash_bits(hashes, 32)").as("simhash"))
        // Aggregate barrier: signatures computed once, both join sides reuse
        .groupBy(col("doc_id")).agg(first(col("simhash")).as("simhash"))
      val a = sh.as("a"); val b = sh.as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"), col("a.simhash").as("simhash"),
          expr("cast(bit_count(a.simhash ^ b.simhash) as int)").as("hamming_next"))
        .orderBy("doc_id")
    },

    // SimHash banded ALL-PAIRS near-dup detection — the at-scale path the
    // neighbor-pair q_simhash demo lacks: 60-bit shingle-level signatures
    // split into 6 × 10-bit bands; docs sharing any band value become
    // candidates via an equi-join (never an all-pairs product), then exact
    // hamming ≤ 5 verifies. Pigeonhole guarantee: hamming ≤ 5 < 6 bands
    // means at least one band is untouched, so recall over the threshold
    // set is 100% — banding loses nothing, it only prunes.
    Op("q_simhash_pairs",
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 59), b ->
         |      CASE WHEN 2 * len(list_filter(hashes, h -> ((h >> b) & 1) = 1)) >= len(hashes)
         |           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM (SELECT doc_id, list_transform(list_distinct($shinglesDuck), t -> ${h60Duck("t")}) AS hashes
         |        FROM documents WHERE len($toksDuck) >= 3)),
         |bands AS (
         |  SELECT doc_id, simhash, b.band, (simhash >> (10 * b.band)) & 1023 AS bval
         |  FROM sh, LATERAL (SELECT unnest(generate_series(0, 5)) AS band) b)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
         |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val sh0 = Tables.spreadSmall(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), expr(toksSpark).as("toks"))
        .where(expr("size(toks) >= 3"))
        .select(col("doc_id"),
          expr(s"transform(array_distinct($shinglesSpark), t -> ${h60Spark("t")})").as("hashes"))
        // native one-pass majority vote; portable fold = the oracle text
        .select(col("doc_id"), expr("simhash_bits(hashes, 60)").as("simhash"))
      // MATERIALIZE the signature table behind an Aggregate barrier: without
      // it, predicate pushdown substitutes the hamming filter's `simhash`
      // references with the full md5 fold and re-evaluates BOTH signatures
      // per candidate pair (measured: minutes instead of seconds at sf0.1).
      // At 100 TB this narrow (doc_id, simhash) exchange IS the signature
      // table you'd persist before the banding join anyway.
      val sh = sh0.groupBy(col("doc_id")).agg(first(col("simhash")).as("simhash"))
      val bands = sh.select(col("doc_id"), col("simhash"),
        posexplode(expr("transform(sequence(0, 5), b -> shiftright(simhash, 10 * b) & 1023)"))
          .as(Seq("band", "bval")))
      val a = bands.as("a"); val b = bands.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("cast(bit_count(a.simhash ^ b.simhash) as int)").as("hamming"))
        .where(col("hamming") <= 5)
        .distinct()
        .orderBy("doc_a", "doc_b")
    },

    // True windowed winnowing (the q_fingerprint upgrade): per document,
    // hash every 3-gram shingle, slide a w=8 window over the hash sequence,
    // select each window's minimum (ties -> rightmost, the Schleimer/
    // Wilkerson/Aiken rule), and emit the distinct (position, hash) set.
    // Guarantees a fingerprint in every w-window, so any shared run of
    // w + k - 1 tokens between two docs shares a fingerprint. Map-only.
    Op("q_winnow",
      s"""WITH hs AS (
         |  SELECT doc_id, list_transform($shinglesDuck, s -> ${h60Duck("s")}) AS h
         |  FROM documents WHERE len($toksDuck) >= 3),
         |wins AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(1, greatest(len(h) - 8 + 1, 1)), s ->
         |      struct_pack(
         |        pos := s - 1 + list_max(list_filter(generate_series(0, least(8, len(h)) - 1),
         |                 j -> h[s + j] = list_min(h[s : least(s + 7, len(h))]))),
         |        fp  := list_min(h[s : least(s + 7, len(h))]))) AS fps
         |  FROM hs)
         |SELECT DISTINCT doc_id, CAST(u.f.pos AS BIGINT) AS pos, u.f.fp AS fp
         |FROM (SELECT doc_id, unnest(fps) AS f FROM wins) u(doc_id, f)
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), expr(toksSpark).as("toks"))
        .where(expr("size(toks) >= 3"))
      // MAP-ONLY: `winnow_pairs` selects every window's (rightmost-tie pos,
      // min hash) in one tight pass per document and emits the per-doc
      // DISTINCT pairs by construction (selection positions are
      // non-decreasing, see the expression scaladoc), so neither a doc_id
      // window exchange + sort nor a row-level distinct exchange is needed:
      // at corpus scale the only exchange is the output ORDER BY.
      // explode_OUTER: InferFiltersFromGenerate adds `size(e) > 0 AND
      // isnotnull(e)` for a plain explode and pushes it below the
      // projections, re-inlining the whole tokenize→md5→winnow chain
      // TWICE into the Filter (the q_ngram_novelty r5 pathology —
      // measured 9× here). The outer generator is exempt from the rule
      // and identical in results: size(toks) >= 3 guarantees >= 1
      // shingle, so wp is never empty or null.
      toks.select(col("doc_id"),
          expr(s"winnow_pairs(transform($shinglesSpark," +
            s" s -> ${h60Spark("s")}), 8)").as("wp"))
        .select(col("doc_id"), explode_outer(col("wp")).as("f"))
        .select(col("doc_id"), col("f.pos").cast("bigint").as("pos"), col("f.fp").as("fp"))
        .orderBy("doc_id", "pos")
    },

    // End-to-end near-dup pipeline: MinHash/LSH candidate generation →
    // exact n-gram-Jaccard verification (≥ 0.5) → min-id keeper per dup.
    // This is the at-scale shape: the quadratic step only ever touches the
    // LSH candidate pairs, and verification joins shingle sets by doc_id.
    Op("q_dedup_pipeline",
      s"""WITH $verifiedPairsDuckCtes
         |SELECT doc_a AS keeper, doc_b AS dup, jaccard
         |FROM pairs ORDER BY keeper, dup""".stripMargin) { (s, dir) =>
      verifiedPairsSpark(s, dir)
        .select(col("doc_a").as("keeper"), col("doc_b").as("dup"), col("jaccard"))
        .orderBy("keeper", "dup")
    },

    // Dedup CLUSTERS — the step after pair generation that a real dedup run
    // needs: verified near-dup pairs form a graph whose connected components
    // are the duplicate groups (keep one doc per component, drop the rest).
    // A pairwise keeper rule (min of each pair) over-deletes on chains
    // a–b–c; the component min is the correct single survivor. Spark side:
    // iterative min-label propagation (see connectedComponents above);
    // oracle: recursive transitive closure — fine at oracle scale, never
    // the Spark shape.
    Op("q_dedup_clusters",
      s"""WITH RECURSIVE $verifiedPairsDuckCtes,
         |$ccLblDuckCtes
         |SELECT l.doc_id, l.cluster, CAST(n.sz AS BIGINT) AS cluster_size
         |FROM lbl l JOIN (SELECT cluster, count(*) AS sz FROM lbl GROUP BY cluster) n
         |  ON n.cluster = l.cluster
         |ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
      val labels = connectedComponents(verifiedPairsSpark(s, dir))
      val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"))
        .orderBy("doc_id")
    },

    // Keep-BEST-per-cluster — the canonical-representative rule a real
    // curation run uses instead of keep-min-id: within each near-dup
    // cluster, keep the highest-quality copy (mirrors of the same page
    // differ in boilerplate residue, truncation, encoding damage — id
    // order is arbitrary, quality order is not). Quality is the
    // q_quality_score composite in EXACT integer micro units
    // (length-capped word count + non-stopword ratio) so argmax ties
    // break identically on both engines (doc_id asc). Spark side: the
    // per-cluster argmax is ONE partial-agg'd max(struct) — no window, no
    // per-cluster sort; at 100 TB it rides the same shuffle as the
    // cluster-size count.
    Op("q_dedup_keep_best",
      s"""WITH RECURSIVE $verifiedPairsDuckCtes,
         |$ccLblDuckCtes,
         |q AS (SELECT doc_id, $qualityMicroDuck AS qm FROM documents),
         |best AS (SELECT l.cluster, l.doc_id, q.qm,
         |           row_number() OVER (PARTITION BY l.cluster ORDER BY q.qm DESC, l.doc_id) AS rn,
         |           count(*) OVER (PARTITION BY l.cluster) AS n
         |         FROM lbl l JOIN q USING (doc_id))
         |SELECT CAST(cluster AS BIGINT) AS cluster, doc_id AS kept_doc,
         |       CAST(qm AS BIGINT) AS quality_micro, CAST(n - 1 AS BIGINT) AS dropped
         |FROM best WHERE rn = 1 ORDER BY cluster""".stripMargin) { (s, dir) =>
      val labels = connectedComponents(verifiedPairsSpark(s, dir))
      val q = Tables.documents(s, dir).select(col("doc_id"),
        expr(qualityMicroSpark).as("qm"))
      labels.join(q, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          max(struct(col("qm"), (-col("doc_id")).as("negid"))).as("best"))
        .select(col("cluster").cast("long").as("cluster"),
          (-col("best.negid")).as("kept_doc"),
          col("best.qm").cast("long").as("quality_micro"),
          (col("n") - 1).cast("long").as("dropped"))
        .orderBy("cluster")
    },

    // Duplication-rate-by-domain report — the diagnostic a curation run
    // reads before tuning per-source policy (mirror-heavy domains get
    // aggressive dedup/caps, clean domains don't pay for it). A doc counts
    // as duplicated iff it belongs to any verified near-dup cluster.
    // Scale shape: the cluster-member id table is tiny next to the corpus
    // (only docs in clusters), so the left join broadcasts under AQE; then
    // ONE partial-agg'd groupBy over ~|domains| rows. Exact-integer ppm.
    Op("q_dup_rate_by_domain",
      s"""WITH $verifiedPairsDuckCtes,
         |dup AS (
         |  -- explicit DISTINCT over UNION ALL, not `A UNION B`: inside a
         |  -- WITH RECURSIVE list DuckDB gives a union-bodied CTE the
         |  -- recursive-union semantics and does NOT dedup across branches
         |  -- (harmless for the shared `edges` CTE — `reach` dedups — but
         |  -- fatal here, where a doc in both branches would double-count;
         |  -- this query is plain WITH today, the form is kept defensive)
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs))
         |SELECT d.source, CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(u.doc_id) AS BIGINT) AS dup_docs,
         |  (count(u.doc_id) * 1000000) // count(*) AS dup_ppm
         |FROM documents d LEFT JOIN dup u ON u.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
      val dupIds = verifiedPairsSpark(s, dir)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(dupIds.withColumn("isdup", lit(1)), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("total"), count(col("isdup")).as("dup_docs"))
        .select(col("source"), col("total"), col("dup_docs"),
          expr("dup_docs * 1000000 div total").as("dup_ppm"))
        .orderBy("source")
    },

    // MinHash→Jaccard CALIBRATION over the LSH candidate set — the tuning
    // diagnostic read before changing NumHashes/bands: the signature
    // estimate (fraction of agreeing minhash components, the unbiased
    // Jaccard estimator) against the exact n-gram Jaccard, per candidate
    // pair, both in exact-integer micro units. Run over CANDIDATES, not
    // verified pairs — calibration needs the sub-threshold tail the
    // verifier rejects. At-scale shape: everything rides tables the dedup
    // pipeline already materializes (barrier'd signatures, banded
    // candidates, shingle sets); candidates bound the quadratic work.
    Op("q_minhash_calibration",
      s"""WITH $verifiedPairsDuckCtes,
         |est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST((${(0 until NumHashes)
               .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END")
               .mkString(" + ")}) * ${1000000 / NumHashes} AS BIGINT) AS est_micro
         |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b)
         |SELECT e.doc_a, e.doc_b, e.est_micro,
         |  CAST(len(list_intersect(x.sh, y.sh)) * 1000000 //
         |       len(list_distinct(list_concat(x.sh, y.sh))) AS BIGINT) AS jac_micro,
         |  CAST(abs(e.est_micro - len(list_intersect(x.sh, y.sh)) * 1000000 //
         |       len(list_distinct(list_concat(x.sh, y.sh)))) AS BIGINT) AS err_micro
         |FROM est e JOIN sh x ON x.doc_id = e.doc_a JOIN sh y ON y.doc_id = e.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // one barrier'd shingle table feeds signatures, candidates AND the
      // exact-Jaccard sides (the verifiedPairsSpark one-scan shape)
      val sh = shingleSetSpark(s, dir)
      val sig = sigFromShingles(sh)
      val cand = lshCandidatesSpark(sig)
      val estExpr = expr(s"cast((${(0 until NumHashes)
        .map(j => s"case when a.mh$j = b.mh$j then 1 else 0 end")
        .mkString(" + ")}) * ${1000000 / NumHashes} as bigint)")
      val jacMicro = expr("cast(size(array_intersect(x.sh, y.sh)) as bigint) * 1000000" +
        " div cast(size(array_union(x.sh, y.sh)) as bigint)")
      cand
        .join(sig.as("a"), col("a.doc_id") === col("doc_a"))
        .join(sig.as("b"), col("b.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), estExpr.as("est_micro"))
        .join(sh.as("x"), col("x.doc_id") === col("doc_a"))
        .join(sh.as("y"), col("y.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("est_micro"),
          jacMicro.as("jac_micro"),
          abs(col("est_micro") - jacMicro).as("err_micro"))
        .orderBy("doc_a", "doc_b")
    },

    // Paragraph-level exact dedup (the C4/RefinedWeb within-corpus rule:
    // drop repeated paragraphs/lines, keep the lowest-id occurrence). The
    // at-scale shape: explode docs to paragraphs (map-only, no synthesis
    // needed on a real corpus — testdata text is single-line, so line
    // structure is synthesized by the shared deterministic replace chain),
    // then ONE shuffle on the paragraph hash with map-side partial
    // aggregation. Output: one row per distinct paragraph with its keeper
    // doc and copy count.
    Op("q_paragraph_dedup",
      s"""WITH s AS (SELECT doc_id, ${ExtractOps.structureDuck} AS t FROM documents),
         |paras AS (
         |  SELECT doc_id, trim(p.para) AS para
         |  FROM s, LATERAL (SELECT unnest(regexp_split_to_array(t, '\\n{2,}')) AS para) p
         |  WHERE trim(p.para) <> '')
         |SELECT md5(para) AS para_hash,
         |       CAST(min(doc_id) AS BIGINT) AS keeper,
         |       CAST(count(*) AS BIGINT) AS copies
         |FROM paras GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val paras = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(filter(transform(split(expr(ExtractOps.structureSpark), "\n{2,}"),
            p => trim(p)), p => p =!= "")).as("para"))
      paras.groupBy(md5(col("para")).as("para_hash"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
        .orderBy("para_hash")
    },

    // Cross-document n-gram novelty — the incremental-crawl curation signal
    // (a re-crawled page whose shingles all appeared in earlier docs adds
    // nothing to the corpus; drop or down-weight it). Per doc: the fraction
    // of its distinct 3-gram shingles FIRST seen in this doc, i.e. whose
    // corpus-wide min(doc_id) is this doc. At-scale shape: per-doc shingle
    // counts are MAP-ONLY (size of the distinct array, no explode); the
    // first-seen table is ONE shuffle on the 60-bit shingle HASH (narrow
    // fixed-width key like q_paragraph_dedup, never the string) with
    // map-side partial min; its per-doc rollup and the final join are
    // doc_id-keyed — all narrow. A 60-bit hash collision merges two
    // shingles' first-seen (undercounts novelty by <1 shingle per ~10^9
    // distinct shingles) — identical on both engines, so exactness of the
    // oracle compare is unaffected. Exact-integer ppm.
    Op("q_ngram_novelty",
      s"""WITH $shDuckCte,
         |s AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |f AS (SELECT ${h60Duck("g")} AS gh, min(doc_id) AS fd FROM s GROUP BY gh),
         |nov AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS novel FROM f GROUP BY fd)
         |SELECT p.doc_id, CAST(len(p.sh) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(nov.novel, 0) AS BIGINT) AS novel,
         |  CAST(coalesce(nov.novel, 0) * 1000000 // len(p.sh) AS BIGINT) AS novel_ppm
         |FROM sh p LEFT JOIN nov USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Aggregate barrier (the sigSpark pattern), here for a SECOND reason
      // beyond scan reuse: the explode below synthesizes a
      // `size(sh) > 0 AND isnotnull(sh)` pre-filter that Spark pushes
      // through bare Projects, alias-INLINING the whole tokenize→shingle
      // chain into the predicate — with element_at(filter(split(text)), i)
      // re-evaluated per array element that's O(L²) per doc (measured 6.1s
      // vs 1.3s at sf0.1). The barrier stops the pushdown AND lets both
      // consumers (first-seen explode, map-only size) reuse ONE scan.
      val staged = shingleSetSpark(s, dir, spread = false)
      val novel = staged
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .select(col("doc_id"), expr(h60Spark("g")).as("gh"))
        .groupBy("gh").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("novel"))
      staged
        .select(col("doc_id"), expr("cast(size(sh) as bigint)").as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          expr("cast(coalesce(novel, 0) as bigint)").as("novel"),
          expr("cast(coalesce(novel, 0) * 1000000 div n_shingles as bigint)").as("novel_ppm"))
        .orderBy("doc_id")
    },

    // The full corpus-curation pipeline, composed end-to-end — the chain a
    // real 100 TB training-data run executes as ONE job: quality gate
    // (Gopher-ish composite ≥ 0.5) → repetition gate (dup 3-gram fraction
    // ≤ 0.05) → benchmark decontamination (any shared shingle with the
    // held-out set, broadcast map-side) → near-dup removal (LSH → Jaccard →
    // connected components; only each cluster's min-id doc survives) →
    // deterministic 80/10/10 split assignment. Every stage calls the one
    // definition its own operator uses, on both engines: the LSH candidates
    // and Jaccard verify of q_dedup_pipeline, the matches of
    // q_decontaminate, and the Idioms quality composite (q_quality_score)
    // and split (q_split_stratified).
    Op("q_curation_pipeline",
      s"""WITH RECURSIVE $curationDuckCtes
         |SELECT doc_id, lang, quality, $splitDuck AS split
         |FROM scored
         |WHERE NOT ($benchDuck)
         |  AND quality >= 0.5 AND dup_frac <= 0.05
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |  AND doc_id NOT IN (SELECT doc_id FROM dup_drops)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // ONE doc-feature pass (localCheckpoint inside verdicts) feeds
      // every stage. Without it, each stage's doc_id filters specialize its
      // subplan (they push below the Aggregate barrier), defeating exchange
      // reuse — measured 5 documents scans re-running tokenize→shingle per
      // branch (13s vs ~4s at sf0.1). MinHash is duplicate-insensitive, so
      // signatures derive from the DISTINCT shingle sets with values
      // identical to the oracle's multiset fold.
      curatedFrom(verdicts(s, dir))
    },

    // The curation funnel: survivor counts after each cumulative stage —
    // the removal report every production curation run publishes (what
    // fraction did quality/repetition/decontamination/dedup each cost?).
    // All six counts derive from the same checkpointed doc-feature pass.
    Op("q_curation_funnel",
      s"""WITH RECURSIVE $curationDuckCtes,
         |s1 AS (SELECT * FROM scored WHERE NOT ($benchDuck)),
         |s2 AS (SELECT * FROM s1 WHERE quality >= 0.5),
         |s3 AS (SELECT * FROM s2 WHERE dup_frac <= 0.05),
         |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM dup_drops))
         |SELECT stage, docs,
         |  CAST(coalesce(lag(docs) OVER (ORDER BY stage) - docs, 0) AS BIGINT) AS dropped,
         |  CASE stage ${funnelReasons.map { case (st, r) => s"WHEN '$st' THEN '$r'" }.mkString(" ")} END AS reason
         |FROM (
         |  SELECT '0_base' AS stage, CAST(count(*) AS BIGINT) AS docs FROM scored
         |  UNION ALL SELECT '1_not_benchmark', CAST(count(*) AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_quality', CAST(count(*) AS BIGINT) FROM s2
         |  UNION ALL SELECT '3_repetition', CAST(count(*) AS BIGINT) FROM s3
         |  UNION ALL SELECT '4_decontaminated', CAST(count(*) AS BIGINT) FROM s4
         |  UNION ALL SELECT '5_deduped', CAST(count(*) AS BIGINT) FROM s5)
         |ORDER BY stage""".stripMargin) { (s, dir) =>
      funnelFrom(verdicts(s, dir))
    },

    // n-gram Jaccard between neighboring docs (blocked pairs — the pairwise
    // score kernel; LSH above supplies the candidate pairs at scale).
    Op("q_ngram_jaccard",
      s"""WITH t AS (SELECT doc_id, list_distinct($shinglesDuck) AS sh
         |           FROM documents WHERE len($toksDuck) >= 3)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin) { (s, dir) =>
      val t = shingleSetSpark(s, dir, spread = false) // barrier'd: one scan, both join sides reuse
      val a = t.as("a"); val b = t.as("b")
      a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          round(
            size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
              size(array_union(col("a.sh"), col("b.sh"))).cast("double"), 4).as("jaccard"))
        .orderBy("doc_a")
    },

    // Benchmark decontamination — the training-pipeline stage that removes
    // documents overlapping a held-out evaluation set (standard n-gram
    // overlap rule, see benchMatchesSpark): a training doc is contaminated
    // if it shares ANY 3-gram shingle with the holdout; reported per doc
    // with the number of distinct shared shingles.
    Op("q_decontaminate",
      s"""WITH $shDuckCte,
         |$benchMatchesDuckCtes
         |SELECT doc_id, CAST(count(DISTINCT shingle) AS BIGINT) AS n_shared
         |FROM bench_hits GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // barrier'd: one scan feeds both sides
      benchMatchesSpark(shingleSetSpark(s, dir, spread = false), "sh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_shared"))
        .orderBy("doc_id")
    },

    // Embedding-cosine near-duplicate scoring between neighboring vectors.
    Op("q_embed_neardup",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${Idioms.cosineDuck("a.embedding", "b.embedding")}, 4) AS cosine
         |FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
         |ORDER BY vec_a""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(expr(Idioms.cosineSpark("a.embedding", "b.embedding")), 4).as("cosine"))
        .orderBy("vec_a")
    },

    // Incremental near-dup dedup: a NEW BATCH (doc_id % 10 = 0 stands in
    // for today's crawl) checked against the EXISTING CORPUS without
    // re-clustering anything — a batch doc is dropped if any of its LSH
    // bands collides with a corpus band. This is the daily-ingest shape at
    // 100 TB: the corpus side is the persisted (band, bh) table maintained
    // by prior runs (here recomputed because the testdata has no state
    // dir), so the join touches only the new batch's bands against an
    // indexed/bucketed corpus table; the batch side is small → broadcast.
    Op("q_incremental_dedup",
      s"""WITH corpus_sig AS (
         |  SELECT doc_id, $mhDuckCols
         |  FROM (SELECT doc_id, $shinglesDuck AS shingles FROM documents
         |        WHERE doc_id % 10 <> 0 AND len($toksDuck) >= 3)),
         |batch_sig AS (
         |  SELECT doc_id, $mhDuckCols
         |  FROM (SELECT doc_id, $shinglesDuck AS shingles FROM documents
         |        WHERE doc_id % 10 = 0 AND len($toksDuck) >= 3)),
         |corpus_bands AS (SELECT DISTINCT band, bh FROM (
         |  ${bandDefs.map { case (b, h) => s"SELECT $b AS band, $h AS bh FROM corpus_sig" }
             .mkString("\n  UNION ALL\n  ")})),
         |batch_bands AS (
         |  ${bandDefs.map { case (b, h) => s"SELECT doc_id, $b AS band, $h AS bh FROM batch_sig" }
             .mkString("\n  UNION ALL\n  ")}),
         |dup AS (SELECT DISTINCT b.doc_id
         |        FROM batch_bands b JOIN corpus_bands c ON c.band = b.band AND c.bh = b.bh)
         |SELECT d.doc_id AS doc_id, CASE WHEN dup.doc_id IS NULL THEN 'kept' ELSE 'dup' END AS status
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         |LEFT JOIN dup ON dup.doc_id = d.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // no spread here: the interleaved A/B loses (0.89→1.09s) — the
      // broadcast-heavy band probe is cheaper than the extra exchange
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpusBands = withBandBuckets(docs.where(col("doc_id") % 10 =!= 0))
        .select("band", "bh").distinct()
      incrementalVerdicts(docs.where(col("doc_id") % 10 === 0), corpusBands)
        .orderBy("doc_id")
    },

    // Exact substring dedup (Lee et al. 2022): maximal VERBATIM token runs
    // shared across unrelated documents — boilerplate, licenses, templates
    // — that doc-level MinHash misses when the surrounding text differs.
    // Spark shape: winnowed gram-hash fingerprints nominate candidate
    // pairs, one hash equi-join verifies, diagonal islands recover the
    // maximal runs; the gram table sits behind ONE barrier (one documents
    // scan feeds fingerprints and both join sides). See substringRunsSpark.
    Op("q_substring_dedup",
      s"""WITH $substringRunsDuckCtes
         |SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
         |       CAST(pos_a AS BIGINT) AS pos_a, CAST(pos_b AS BIGINT) AS pos_b,
         |       CAST(run_len AS BIGINT) AS run_len
         |FROM kruns
         |ORDER BY doc_a, doc_b, pos_a, pos_b""".stripMargin) { (s, dir) =>
      substringRunsSpark(s, dir).orderBy("doc_a", "doc_b", "pos_a", "pos_b")
    },

    // The removal rule over those runs: per document, how many of its
    // tokens are covered by a ≥ SubMinRun-token run already present in a
    // LOWER-id document (the keeper, consistent with every other keeper
    // rule here), and the action a curation pass takes — 'drop' when ≥ 80%
    // of the doc is duplicated text, 'strip' (cut just the spans)
    // otherwise. The 80% gate is exact-integer (5·dup ≥ 4·total).
    Op("q_substring_coverage",
      s"""WITH $substringRunsDuckCtes,
         |$substringCoveredDuckCte
         |SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS dup_tokens,
         |       CAST(len(t.toks) AS BIGINT) AS total_tokens,
         |       round(CAST(count(*) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE), 4) AS dup_pct,
         |       CASE WHEN count(*) * 5 >= len(t.toks) * 4 THEN 'drop' ELSE 'strip' END AS action
         |FROM kcovpos c JOIN kt t USING (doc_id)
         |GROUP BY c.doc_id, len(t.toks)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val cover = substringCoveredSpark(s, dir)
      val totals = Tables.documents(s, dir)
        .select(col("doc_id"), expr(s"size($toksSpark)").as("total_toks"))
        .where(col("total_toks") >= SubK)
      cover.groupBy(col("doc_id")).agg(count(lit(1)).as("dup_tokens"))
        .join(totals, "doc_id")
        .select(col("doc_id"), col("dup_tokens"),
          col("total_toks").cast("bigint").as("total_tokens"),
          round(col("dup_tokens").cast("double") / col("total_toks").cast("double"), 4)
            .as("dup_pct"),
          when(col("dup_tokens") * 5 >= col("total_toks") * 4, "drop")
            .otherwise("strip").as("action"))
        .orderBy("doc_id")
    },

    // APPLY the substring removal rule — the transform a curation run
    // actually executes over the coverage report: docs ≥ 80% duplicated
    // are dropped (empty output, the Lee et al. action), the rest have the
    // covered token spans CUT and the text reassembled (canonical
    // single-space join over the surviving tokens — the pipeline's own
    // token definition, so downstream token counts agree by construction),
    // untouched docs pass through. The base is EVERY doc with ≥ 1 token —
    // not just the ≥ SubK-token docs the run detector can see — so the
    // output really is the full cleaned corpus (short docs pass as
    // 'keep'); only zero-token docs are omitted (nothing to reassemble).
    // At-scale shape: covered positions explode from the (tiny) run table
    // and group into ONE per-doc position array (bounded by doc length,
    // never corpus-wide; membership-probed only, so unordered); the
    // rebuild is a map-only array filter+transform after a doc_id-keyed
    // left join.
    Op("q_substring_strip",
      s"""WITH $substringRunsDuckCtes,
         |$substringCoveredDuckCte,
         |kcov AS (SELECT doc_id, list(tok) AS cov FROM kcovpos GROUP BY doc_id),
         |allt AS (SELECT doc_id, $toksDuck AS toks FROM documents
         |         WHERE len($toksDuck) >= 1),
         |kept AS (
         |  SELECT t.doc_id, c.cov, t.toks,
         |    list_transform(list_filter(generate_series(1, len(t.toks)),
         |      i -> c.cov IS NULL OR NOT list_contains(c.cov, i - 1)),
         |      i -> t.toks[i]) AS kt2
         |  FROM allt t LEFT JOIN kcov c USING (doc_id))
         |SELECT doc_id,
         |  CASE WHEN cov IS NULL THEN 'keep'
         |       WHEN len(cov) * 5 >= len(toks) * 4 THEN 'drop'
         |       ELSE 'strip' END AS action,
         |  CAST(CASE WHEN cov IS NOT NULL AND len(cov) * 5 >= len(toks) * 4
         |       THEN 0 ELSE len(kt2) END AS BIGINT) AS kept_tokens,
         |  CASE WHEN cov IS NOT NULL AND len(cov) * 5 >= len(toks) * 4
         |       THEN '' ELSE array_to_string(kt2, ' ') END AS text_out
         |FROM kept ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val cov = substringCoveredSpark(s, dir)
        .groupBy("doc_id").agg(collect_set(col("tok")).as("cov"))
      val isDrop = col("cov").isNotNull &&
        expr("size(cov)") * 5 >= expr("size(toks)") * 4
      Tables.documents(s, dir)
        .select(col("doc_id"), expr(toksSpark).as("toks"))
        .where(expr("size(toks) >= 1"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("kt2", expr("transform(filter(sequence(1, size(toks))," +
          " i -> cov IS NULL OR NOT array_contains(cov, cast(i - 1 as bigint)))," +
          " i -> element_at(toks, i))"))
        .select(col("doc_id"),
          when(col("cov").isNull, "keep").when(isDrop, "drop")
            .otherwise("strip").as("action"),
          when(isDrop, 0L).otherwise(expr("cast(size(kt2) as bigint)")).as("kept_tokens"),
          when(isDrop, "").otherwise(expr("array_join(kt2, ' ')")).as("text_out"))
        .orderBy("doc_id")
    }
  )
}
