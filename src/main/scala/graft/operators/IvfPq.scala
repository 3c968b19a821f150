package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The production ANN stack: IVF cell pruning × product-quantized storage
  * (Jégou et al., TPAMI 2011 — the "IVFADC" composition). [[AnnIndex]]
  * prunes WHICH rows a probe reads (partition pruning on the cell column);
  * [[PqIndex]] shrinks WHAT a read costs (8-byte codes instead of 256-byte
  * float vectors) and scores without decompression. Composed:
  *
  *   build:  k-means centroids → assign → PQ-encode per cell →
  *           `codes/cell=N/` parquet (8 B/vector)
  *   search: probe top-`nprobe` cells (centroid table is nCells rows,
  *           driver-side) → partition-pruned scan of the probed codes →
  *           codegen'd ADC top-`candidates` (TakeOrderedAndProject, no
  *           shuffle) → exact `vec_dot` re-rank of just the candidates
  *           against the source vectors (broadcast semi-join).
  *
  * At 100 TB scale this is the only tractable shape: a probe touches
  * `nprobe/nCells` of an 8-bytes-per-vector table — ~0.03% of the raw
  * float bytes at the defaults — and the full vectors are read only for
  * `candidates` rows.
  *
  * Durability: same generations as [[AnnIndex]] — each build installs one
  * [[graft.pipeline.VersionedTable]] generation holding the centroids, the
  * codebooks and the codes they explain, and readers use only the
  * committed tip.
  */
object IvfPq {

  private def centroidsDir(gen: String) = s"$gen/_centroids"
  private def codebooksDir(gen: String) = s"$gen/_codebooks"
  def codesDir(gen: String): String     = s"$gen/codes"

  def build(
      embeddings: DataFrame,
      indexDir: String,
      nCells: Int = 16,
      refineIters: Int = 2,
      numSub: Int = 8,
      codebookK: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    graft.pipeline.VersionedTable.install(spark, indexDir) { gen =>
      // centroids materialized ONCE (the AnnIndex rule: a lazily re-evaluated
      // Lloyd plan could round a boundary assignment differently)
      val centPlan = AnnIndex.kmeansCentroids(embeddings, nCells, refineIters)
      val centRows = centPlan.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(centRows.toIndexedSeq, 1), centPlan.schema)
        .write.parquet(centroidsDir(gen))
      val cb = PqIndex.train(embeddings, numSub, codebookK)
      PqIndex.saveCodebooks(spark, cb, codebooksDir(gen))
      // one pass: assign to the PERSISTED centroids, PQ-encode map-side, land
      // partitioned by cell
      val assigned = AnnIndex.assignTo(embeddings, spark.read.parquet(centroidsDir(gen)))
      PqIndex.encodeAssigned(assigned, PqIndex.loadCodebooks(spark, codebooksDir(gen)))
        .write.partitionBy("cell").parquet(codesDir(gen))
      // a committed index always carries its base id digest, so appends
      // never pay an O(index) duplicate scan
      DeltaBatches.writeBaseBloom(spark, gen, spark.read.parquet(codesDir(gen)).select("vec_id"))
    }
  }

  /** Incremental append — the [[AnnIndex.append]] protocol lifted to the
    * composed index: the new batch is assigned under the tip's PERSISTED
    * centroids and encoded with its PERSISTED codebooks (both are frozen —
    * that consistency is what keeps probes and ADC lookup tables valid for
    * old and new rows alike), written to `delta/batch=<bid>/cell=N` inside
    * that generation, and committed by a manifest row AFTER the data is
    * durable. The content-derived batch id makes retried appends overwrite
    * themselves; a rebuild's new generation starts with no deltas because
    * it re-derives both models.
    *
    * SINGLE WRITER per indexDir (see [[DeltaBatches]]): concurrent appends
    * could both pass the disjointness guard and commit overlapping ids.
    */
  def append(spark: SparkSession, indexDir: String, newVectors: DataFrame): Long = {
    val gen = DeltaBatches.tip(spark, indexDir, "IvfPq.append")
    DeltaBatches.requireFormatCurrent(spark, gen, "IvfPq.append")
    val stats = DeltaBatches.contentStats(newVectors, "IvfPq.append")
    if (stats.nDistinct < stats.n) DeltaBatches.failInternalDuplicates(newVectors, "IvfPq.append")
    val bid = stats.bid
    val manifest = DeltaBatches.committedManifest(spark, gen)
    // replaying an ALREADY-COMMITTED batch (at-least-once retry after a
    // successful commit) is a no-op — that, plus overwrite-on-retry below,
    // is what gives the streaming sink its exactly-once effect
    if (manifest.exists(_.bid == bid)) return bid
    // a vec_id may live in the index once — digest-guarded (O(batch), not
    // O(index)); the exact base+delta scan below is planned ONLY on a
    // digest hit (real duplicate or bloom false positive)
    val batchBloom = DeltaBatches.guardDisjoint(spark, gen, newVectors, stats, manifest, {
      val existing = spark.read.parquet(codesDir(gen)).select("vec_id")
      DeltaBatches.committedDeltaRows(spark, gen, Seq("vec_id"), manifest.map(_.bid))
        .map(existing.unionByName(_)).getOrElse(existing)
    }, "IvfPq.append")
    val assigned = AnnIndex.assignTo(newVectors, spark.read.parquet(centroidsDir(gen)))
    PqIndex.encodeAssigned(assigned, PqIndex.loadCodebooks(spark, codebooksDir(gen)))
      .write.mode("overwrite").partitionBy("cell")
      .option("partitionOverwriteMode", "static")
      .parquet(s"${DeltaBatches.deltaDir(gen)}/batch=$bid")
    DeltaBatches.commit(spark, gen, bid, stats.n, batchBloom)
    bid
  }

  /** Top-`nprobe` cells for a query vector — nCells driver-side dot
    * products against the committed tip's centroid table (ties broken by
    * cell).
    */
  def probeCells(spark: SparkSession, indexDir: String, query: Array[Float], nprobe: Int): Seq[Long] =
    probeCellsOf(spark, DeltaBatches.tip(spark, indexDir, "IvfPq.probeCells"), query, nprobe)

  private def probeCellsOf(spark: SparkSession, gen: String, query: Array[Float],
      nprobe: Int): Seq[Long] =
    spark.read.parquet(centroidsDir(gen)).collect()
      .map { r =>
        val cv = r.getSeq[Float](1)
        var s = 0.0; var i = 0
        while (i < cv.length) { s += cv(i).toDouble * query(i); i += 1 }
        (r.getLong(0), s)
      }
      .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1).toSeq

  /** Two-stage probe of the committed tip, resolved once: partition-pruned
    * ADC over the probed cells' codes, then exact re-rank of the
    * `candidates` survivors against the full vectors. Output: (vec_id,
    * score) — `score` is the exact dot product, rounded like
    * [[AnnIndex.search]] for oracle comparability.
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      embeddings: DataFrame,
      queryVecId: Long,
      nprobe: Int = 4,
      k: Int = 10,
      candidates: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.ensure(spark)
    val gen = DeltaBatches.tip(spark, indexDir, "IvfPq.search")
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val cells = probeCellsOf(spark, gen, q, nprobe)
    val cb = PqIndex.loadCodebooks(spark, codebooksDir(gen))
    val baseCodes = spark.read.parquet(codesDir(gen))
      .where(col("cell").isin(cells: _*)) // partition-pruned scan of 8 B/vec codes
      .select(col("vec_id"), col("cell"), col("codes"))
    val codes = DeltaBatches
      .committedDeltaRows(spark, gen, Seq("vec_id", "cell", "codes"))
      .map(d => baseCodes.unionByName(d.where(col("cell").isin(cells: _*))))
      .getOrElse(baseCodes)
    val cand = codes
      .select(col("vec_id"), PqIndex.adcScore(cb, q).as("score_adc"))
      .orderBy(desc("score_adc"), asc("vec_id")).limit(candidates)
      .select(col("vec_id"))
    embeddings.join(broadcast(cand), "vec_id")
      .withColumn("qv", typedLit(q.toSeq))
      .select(col("vec_id"), expr("vec_dot(embedding, qv)").as("score"))
      .orderBy(desc("score"), asc("vec_id")).limit(k)
      .select(col("vec_id"), round(col("score"), 4).as("score"))
  }
}
