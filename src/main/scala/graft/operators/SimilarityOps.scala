package graft.operators

import graft.operators.Idioms.{cosineDuck, cosineSpark, dotDuck, dotSpark, normSpark, queryVecDuck,
  queryVecSpark}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * - q_ann_cosine_topk: brute-force cosine top-k — the correctness baseline;
  *   compiles to a broadcast of the 1-row query vector + a codegen'd array
  *   fold + TakeOrderedAndProject (no shuffle of the big side).
  * - q_ann_ivf: the scale path — IVF with inner-product assignment. Vectors
  *   are partitioned into nCells = ceil(sqrt(n)) cells by nearest centroid
  *   (the classical IVF balance point: ~sqrt(n) cells of ~sqrt(n) vectors
  *   keeps probe cost ~nprobe*sqrt(n); a literal 8 would stop pruning the
  *   moment the corpus grows). Centroids broadcast; the query probes its
  *   top-2 cells and only those candidates are scored. At 100 TB the
  *   assignment is a one-off bucketing write and probing touches
  *   ~nprobe/nCells of the data.
  */
object SimilarityOps {

  // nCells derived from corpus size (ceil(sqrt(n))) with the SAME formula on
  // both engines, so the cell layout — and therefore every probe-bounded
  // result — stays oracle-identical at every SF. The count() is a parquet
  // metadata read, not a scan.
  private val nCellsDuck = "CAST(ceil(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT)"
  private def nCellsOf(e: DataFrame): Int =
    math.ceil(math.sqrt(e.count().toDouble)).toInt

  /** The IVF cells: the first nCells vectors are the centroids `(cell,
    * cvec)`. The oracle's CTEs `cent` (keyed `cid`) and `assign` put each
    * vector `(vec_id, cid, embedding)` in the cell of its largest dot
    * product, ties to the smaller cell, as `AnnIndex.assignTo` does.
    */
  private def firstCells(e: DataFrame): DataFrame =
    e.where(col("vec_id") < nCellsOf(e)).select(col("vec_id").as("cell"), col("embedding").as("cvec"))
  private val cellsDuckCtes =
    s"""cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < $nCellsDuck),
       |assign AS (
       |  SELECT vec_id, cid, embedding FROM (
       |    SELECT e.vec_id, c.cid, e.embedding,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotDuck("e.embedding", "c.cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e, cent c) WHERE rn = 1)""".stripMargin

  /** Each vector in its cell with its norm `(vec_id, cid, embedding,
    * vnorm)`: the rows of the cell-bounded pair search, whose cosine
    * ([[pairCosine]]) reads the norms once per row, not once per pair.
    */
  private def normedCells(e: DataFrame): DataFrame =
    AnnIndex.assignTo(e, firstCells(e))
      .select(col("vec_id"), col("cell").as("cid"), col("embedding"),
        expr(normSpark("embedding")).as("vnorm"))
  private def pairCosine: Column =
    expr(dotSpark("a.embedding", "b.embedding")) / (col("a.vnorm") * col("b.vnorm"))

  val ops: Seq[Op] = Seq(

    Op("q_ann_cosine_topk",
      s"""SELECT e.vec_id, round(${cosineDuck("e.embedding", "q.qvec")}, 4) AS cosine
         |FROM embeddings e, $queryVecDuck q
         |ORDER BY ${cosineDuck("e.embedding", "q.qvec")} DESC, e.vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      e.crossJoin(broadcast(queryVecSpark(e, 0)))
        .select(col("vec_id"), expr(cosineSpark("embedding", "qvec")).as("cos_exact"))
        .orderBy(desc("cos_exact"), asc("vec_id")).limit(10)
        .select(col("vec_id"), round(col("cos_exact"), 4).as("cosine"))
    },

    Op("q_ann_ivf",
      s"""WITH $cellsDuckCtes,
         |q AS $queryVecDuck,
         |probes AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${dotDuck("c.cvec", "q.qvec")} DESC, c.cid) AS rn
         |    FROM cent c, q) WHERE rn <= 2)
         |SELECT e.vec_id, a.cid,
         |       round(${dotDuck("e.embedding", "q.qvec")}, 4) AS score
         |FROM embeddings e
         |JOIN assign a ON a.vec_id = e.vec_id
         |JOIN probes p ON p.cid = a.cid, q
         |ORDER BY ${dotDuck("e.embedding", "q.qvec")} DESC, e.vec_id LIMIT 5""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val cent = firstCells(e)
      val q = queryVecSpark(e, 0)

      // Map-side argmax (shared fold in AnnIndex.assignTo): no explode, no
      // shuffle, no self-join (round-1 fix: the previous crossJoin ×
      // row_number-over-Window plan shuffled 8× the table and then joined
      // the assignment back to the full table).
      val withCell = AnnIndex.assignTo(e, cent)
        .select(col("vec_id"), col("embedding"), col("cell").as("cid"))

      val probes = cent.select(col("cell").as("cid"), col("cvec")).crossJoin(broadcast(q))
        .withColumn("qdot", expr(dotSpark("cvec", "qvec")))
        .orderBy(desc("qdot"), asc("cid")).limit(2)
        .select(col("cid"))

      withCell
        .join(broadcast(probes), "cid")
        .crossJoin(broadcast(q))
        .withColumn("score_exact", expr(dotSpark("embedding", "qvec")))
        .orderBy(desc("score_exact"), asc("vec_id")).limit(5)
        .select(col("vec_id"), col("cid"), round(col("score_exact"), 4).as("score"))
    },

    // Embedding near-dup at scale: candidates bounded by IVF cell — the
    // pairwise search runs INSIDE each centroid cell (equi-join on cid), so
    // candidate volume is ~n²/nCells instead of n², and the same persisted
    // cell partitioning the ANN index uses serves dedup for free. Exact
    // cosine verifies candidates; top-20 reported.
    Op("q_embed_neardup_cells",
      s"""WITH $cellsDuckCtes
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid,
         |       round(${cosineDuck("a.embedding", "b.embedding")}, 4) AS cosine
         |FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE ${cosineDuck("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY ${cosineDuck("a.embedding", "b.embedding")} DESC, vec_a, vec_b
         |LIMIT 20""".stripMargin) { (s, dir) =>
      val assign = normedCells(Tables.embeddings(s, dir))
      val a = assign.as("a"); val b = assign.as("b")
      a.join(b, col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .where(pairCosine >= 0.3)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("a.cid").as("cid"),
          round(pairCosine, 4).as("cosine"), pairCosine.as("cos_exact"))
        .orderBy(desc("cos_exact"), asc("vec_a"), asc("vec_b")).limit(20)
        .select(col("vec_a"), col("vec_b"), col("cid"), col("cosine"))
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) keep-one rule on top of
    // the cell-bounded pair search: within each embedding cluster, a vector
    // is DROPPED iff some smaller-id vector in the same cell sits above the
    // cosine threshold (deterministic keeper = cluster-min id, the same
    // keep-smallest convention as MinHash dedup). Reported as per-cell
    // total/kept/dropped — one row per cell, verifying every per-row drop
    // decision in aggregate. Same n²/nCells candidate bound as the pair
    // query; the drop set is a narrow distinct + one left join.
    Op("q_semdedup",
      s"""WITH $cellsDuckCtes,
         |drops AS (
         |  SELECT DISTINCT b.vec_id FROM assign a
         |  JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${cosineDuck("a.embedding", "b.embedding")} >= 0.3)
         |SELECT a.cid, CAST(count(*) AS BIGINT) AS total,
         |       CAST(count(*) FILTER (WHERE d.vec_id IS NULL) AS BIGINT) AS kept,
         |       CAST(count(d.vec_id) AS BIGINT) AS dropped
         |FROM assign a LEFT JOIN drops d ON d.vec_id = a.vec_id
         |GROUP BY a.cid ORDER BY a.cid""".stripMargin) { (s, dir) =>
      val assign = normedCells(Tables.embeddings(s, dir))
        .localCheckpoint(true) // barrier: pair join + report reuse ONE assignment pass
      val a = assign.as("a"); val b = assign.as("b")
      val drops = a.join(b, col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .where(pairCosine >= 0.3)
        .select(col("b.vec_id").as("vec_id")).distinct()
      assign.join(drops.withColumn("is_drop", lit(1)), Seq("vec_id"), "left")
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("total"),
          count(when(col("is_drop").isNull, 1)).as("kept"),
          count(col("is_drop")).as("dropped"))
        .orderBy("cid")
    },

    /** Hard-negative mining for contrastive training: for each anchor
      * vector, the top-5 most-cosine-similar vectors EXCLUDING the anchor
      * itself and anything above 0.9 cosine (near-identical = a likely
      * positive/duplicate, not a negative — the standard "semi-hard" band).
      * Scale shape: anchors broadcast (a training batch is small), scoring
      * is one map-only pass over the corpus, and the per-anchor top-5 uses
      * the salted two-phase partial top-k (per-(anchor, salt) partial →
      * per-anchor merge) — same pattern as q_topk_per_group, so no anchor's
      * window ever sees the whole corpus.
      */
    Op("q_hard_negatives",
      s"""WITH a AS (SELECT vec_id AS anchor_id, embedding AS qv FROM embeddings
         |           WHERE vec_id IN (0, 1, 2)),
         |scored AS (
         |  SELECT a.anchor_id, e.vec_id,
         |    ${cosineDuck("e.embedding", "a.qv")} AS cos
         |  FROM embeddings e, a WHERE e.vec_id <> a.anchor_id),
         |neg AS (
         |  SELECT anchor_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, vec_id)
         |         AS BIGINT) AS rnk
         |  FROM scored WHERE cos < 0.9)
         |SELECT anchor_id, rnk, vec_id, round(cos, 4) AS cosine
         |FROM neg WHERE rnk <= 5 ORDER BY anchor_id, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val anchors = e.where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("anchor_id"), col("embedding").as("qvec"))
      val scored = e.crossJoin(broadcast(anchors))
        .where(col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id"),
          expr(cosineSpark("embedding", "qvec")).as("cos"))
        .where(col("cos") < 0.9)
      val local = scored
        .groupBy(col("anchor_id"), pmod(xxhash64(col("vec_id")), lit(16L)).as("salt"))
        .agg(expr("slice(array_sort(collect_list(struct(-cos AS negc, vec_id))), 1, 5)")
          .as("top"))
      local.groupBy(col("anchor_id"))
        .agg(expr("slice(array_sort(flatten(collect_list(top))), 1, 5)").as("top"))
        .select(col("anchor_id"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("anchor_id"), (col("i") + 1).cast("bigint").as("rnk"),
          col("t.vec_id").as("vec_id"), round(-col("t.negc"), 4).as("cosine"))
        .orderBy("anchor_id", "rnk")
    }
  )
}
