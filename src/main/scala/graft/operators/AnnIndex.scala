package graft.operators

import graft.pipeline.VersionedTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF index for embedding similarity — the production ANN shape
  * (q_ann_ivf shows the one-shot query; this module materializes the index).
  * One inverted file whose lists store either the raw vectors or their
  * product-quantized codes: the IVFADC design of Jégou, Douze & Schmid
  * ("Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * Build: seed centroids kmeans++-style (deterministic farthest-first over a
  * bounded hash-sample), refine with Lloyd iterations (default 2), assign
  * every vector to its nearest centroid (inner product), encode it with the
  * index's [[AnnIndex.Payload]] and write the rows partitioned by cell — at
  * 100 TB each cell becomes a parquet partition, so a probe reads only
  * `nprobe/nCells` of the data via partition pruning.
  *
  * Search: rank the (tiny) centroid set against the query on the driver,
  * read only the top-`nprobe` cells, score their rows with the payload's
  * scorer, top-k. A `Pq` probe touches 8 bytes per vector instead of the
  * float vector, and reads full vectors only for its `candidates` rows.
  *
  * Durability: `indexDir` is a [[graft.pipeline.VersionedTable]] root, and
  * each build installs one generation holding the centroids, the codebooks
  * of a `Pq` payload, the cells they explain and the id digest, so probes
  * always use the exact models of the cells they read. The generation's
  * tag records its payload (`ivf-flat-v1` or `ivf-pq-v1`), so `append` and
  * `search` take it from the generation. A crashed build is an uncommitted
  * generation no reader sees: the previous index stays searchable. A
  * search planned before a rebuild keeps reading its generation (two are
  * kept).
  *
  * Everything is deterministic: hash-ordered sampling, vec_id tie-breaks,
  * and a single materialization of the refined centroids (Lloyd's avg()
  * merges partials in shuffle-fetch order, so re-evaluating the plan could
  * round a boundary assignment differently).
  */
object AnnIndex {

  /** What each cell row stores, fixed when the index is built. */
  sealed trait Payload

  /** The raw `embedding`: `search` scores every probed row exactly. */
  case object Flat extends Payload

  /** `numSub` PQ byte codes packed into one BIGINT `codes`, under
    * codebooks of `codebookK` sub-centroids per subspace ([[PqIndex]]):
    * `search` prunes the probed rows with ADC to `candidates`, then
    * re-ranks those exactly.
    */
  final case class Pq(numSub: Int = 8, codebookK: Int = 16) extends Payload

  /** Driver-side dot product, summed in index order as `vec_dot` sums it. */
  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  /** kmeans++-style deterministic seeding: farthest-first traversal over a
    * bounded pseudo-random sample.
    *
    * One distributed pass takes the `sampleSize` vectors with the smallest
    * `xxhash64(vec_id)` (a deterministic "random" sample independent of id
    * order); the greedy then runs driver-side over that ~1 MB sample: start
    * from the sampled vector with the smallest vec_id, repeatedly add the
    * vector whose maximum dot with the chosen set is smallest (the
    * farthest-first rule — kmeans++'s D²-sampling with the argmax instead of
    * a draw, so no RNG). Ties break by vec_id. At 100 TB the sample bound
    * keeps seeding one scan + O(sampleSize × nCells) driver work.
    *
    * `nCells` must not exceed `sampleSize`: the seeds come FROM the sample,
    * so a larger nCells would silently under-cell the index (fewer, fatter
    * partitions than the caller sized probes for). Fail fast naming the
    * knob — raising `sampleSize` is legitimate, it just scales driver
    * memory/CPU with it (the sample is collected). A table with fewer rows
    * than nCells still caps at the row count: an index cannot have more
    * cells than vectors, and nothing was silently lost.
    */
  def seedCentroids(embeddings: DataFrame, nCells: Int, sampleSize: Int = 4096): DataFrame = {
    require(nCells <= sampleSize,
      s"seedCentroids: nCells=$nCells exceeds sampleSize=$sampleSize; seeds are drawn from " +
        "the collected sample, so this would silently build fewer cells than asked; raise " +
        "sampleSize to at least nCells (driver memory scales with it)")
    val spark = embeddings.sparkSession
    val sample = embeddings
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    require(sample.nonEmpty, "seedCentroids: empty embeddings table")
    val k = math.min(nCells, sample.length)
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    val picked = new Array[Boolean](sample.length) // O(1) membership, not an O(k) buffer scan
    picked(0) = true
    // maxSim(i) = max dot between sample(i) and any chosen seed
    val maxSim = sample.map(v => dotd(v._2, sample.head._2))
    while (chosen.length < k) {
      var best = -1
      var bestSim = Double.MaxValue
      var i = 0
      while (i < sample.length) {
        if (!picked(i) && maxSim(i) < bestSim) {
          bestSim = maxSim(i); best = i
        }
        i += 1
      }
      // best stays -1 only if every candidate similarity is NaN — fail with
      // the cause rather than an index error from sample(-1)
      require(best >= 0,
        "seedCentroids: no selectable seed (NaN similarities; check embeddings for NaN/Inf values)")
      val next = sample(best)
      chosen += next
      picked(best) = true
      var j = 0
      while (j < sample.length) {
        val s = dotd(sample(j)._2, next._2)
        if (s > maxSim(j)) maxSim(j) = s
        j += 1
      }
    }
    val rows = chosen.zipWithIndex.map { case ((_, v), cell) =>
      Row(cell.toLong, v.map(_.toFloat).toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false), false))))
  }

  /** Assignment table (vec_id, cell, embedding) against an explicit centroid
    * table (cell, cvec).
    *
    * Nearest-centroid is a map-side fold over ONE broadcast row carrying the
    * sorted centroid array — max(struct(dot, -cell)) == (dot DESC, cell ASC)
    * argmax — so the assignment stage is shuffle-free (round-1 fix: the
    * crossJoin × row_number-over-Window plan shuffled nCells× the table).
    */
  def assignTo(embeddings: DataFrame, cent: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(embeddings.sparkSession)
    val centArr = cent.agg(sort_array(collect_list(struct(col("cell"), col("cvec")))).as("cents"))
    val d = Idioms.dotSpark("embedding", "c.cvec")
    embeddings.crossJoin(broadcast(centArr))
      .withColumn("best", expr(s"array_max(transform(cents, c -> named_struct('d', $d, 'ncell', -c.cell)))"))
      .select(col("vec_id"), (-col("best.ncell")).as("cell"), col("embedding"))
  }

  /** One Lloyd step: element-wise mean of each cell's members becomes the
    * new centroid. Distributed via posexplode to (cell, dim) keyed rows —
    * partial aggregation combines map-side, so the shuffle carries at most
    * nCells × dim partial sums per task regardless of table size. Index
    * build is an offline job; this is its only shuffle. A cell that loses
    * all members keeps its previous centroid (left join + coalesce), so the
    * cell count never silently shrinks between iterations.
    */
  def lloydStep(embeddings: DataFrame, cent: DataFrame): DataFrame = {
    val means = assignTo(embeddings, cent)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim")).agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(named_struct('dim', dim, 'm', m)))," +
        " x -> cast(x.m as float))").as("mvec"))
    cent.select(col("cell"), col("cvec"))
      .join(means, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("mvec"), col("cvec")).as("cvec"))
  }

  /** Farthest-first seeds refined by `iters` Lloyd steps. */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int, iters: Int): DataFrame =
    (1 to iters).foldLeft(seedCentroids(embeddings, nCells))((c, _) => lloydStep(embeddings, c))

  // The generation formats. Each covers the cell layout and the delta
  // manifest's batch-id formula and row layout (DeltaBatches): a change
  // to any of them bumps the version.
  private val FlatFormat = "ivf-flat-v1"
  private val PqFormat   = "ivf-pq-v1"

  private def centroidsDir(gen: String) = s"$gen/_centroids"
  private def codebooksDir(gen: String) = s"$gen/_codebooks"
  def cellsDir(gen: String): String      = s"$gen/cells"

  /** The generation's persisted centroid table `(cell, centroid)`. */
  private def centroids(spark: SparkSession, gen: String): DataFrame =
    VersionedTable.readHidden(spark, centroidsDir(gen))
      .getOrElse(sys.error(s"index generation $gen has no centroids"))

  /** Assigned rows `(vec_id, cell, embedding)` in the generation's payload:
    * unchanged for `Flat`, PQ-encoded to `(vec_id, cell, codes)` for `Pq`.
    */
  private def encode(assigned: DataFrame, codebooks: Option[PqIndex.Codebooks]): DataFrame =
    codebooks.fold(assigned)(PqIndex.encode(assigned, _))

  /** Build and persist one new generation of the index: `_centroids` (the
    * tiny centroid table), the `_codebooks` of a `Pq` payload, `cells` (the
    * encoded assignment, partitioned by cell — partition pruning = probe)
    * and the base id digest, committed by `VersionedTable.install` under
    * the payload's format after all of them are written. Appended deltas
    * live in the generation they were assigned under, so the new one starts
    * with none.
    */
  def build(embeddings: DataFrame, indexDir: String, nCells: Int = 16,
      refineIters: Int = 2, payload: Payload = Flat): Unit = {
    val spark = embeddings.sparkSession
    val format = payload match { case Flat => FlatFormat; case _: Pq => PqFormat }
    VersionedTable.install(spark, indexDir, tag = VersionedTable.Tag(format)) { gen =>
      // Materialize the centroids ONCE (nCells rows): Lloyd's avg() merges
      // partial sums in shuffle-fetch order, so two lazy evaluations of the
      // same plan could round a boundary assignment differently — the cells
      // on disk MUST be assigned under exactly the persisted centroids.
      val centPlan = kmeansCentroids(embeddings, nCells, refineIters)
      val centRows = centPlan.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(centRows.toIndexedSeq, 1), centPlan.schema)
        .write.parquet(centroidsDir(gen))
      val codebooks = payload match {
        case Flat => None
        case Pq(numSub, codebookK) =>
          val cb = PqIndex.train(embeddings, numSub, codebookK)
          PqIndex.saveCodebooks(spark, cb, codebooksDir(gen))
          Some(cb)
      }
      encode(assignTo(embeddings, centroids(spark, gen)), codebooks)
        .write.partitionBy("cell").parquet(cellsDir(gen))
      // a committed index always carries its base id digest, so appends
      // never pay an O(index) duplicate scan
      DeltaBatches.writeBaseBloom(spark, gen, spark.read.parquet(cellsDir(gen)).select("vec_id"))
    }
  }

  /** The committed tip and its payload (the codebooks of a `Pq` index, None
    * for `Flat`), resolved once so that centroids, codebooks, cells and
    * deltas all come from the same generation. An index with no committed
    * generation, or whose tip has another format (an untagged generation
    * from an older build included), fails fast.
    */
  private def open(spark: SparkSession, indexDir: String,
      what: String): (String, Option[PqIndex.Codebooks]) = {
    val (gen, tag) = VersionedTable.resolveTagged(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(s"$what: no committed index generation under $indexDir - " +
        "build the index first (a build that died before its commit is never visible)"))
    tag.format match {
      case FlatFormat => (gen, None)
      case PqFormat   => (gen, Some(PqIndex.loadCodebooks(spark, codebooksDir(gen))))
      case other => throw new IllegalArgumentException(
        s"$what: generation $gen has index format '$other', not $FlatFormat or $PqFormat - " +
          "rebuild the index with AnnIndex.build")
    }
  }

  /** The generation's base cells plus its committed delta batches: the one
    * base-plus-delta union, read by `search` and by the append guard's
    * exact fallback. A cell filter on the result prunes partitions on both
    * sides of the union.
    */
  private def rows(spark: SparkSession, gen: String, cols: Seq[String],
      batches: Seq[Long]): DataFrame = {
    val base = spark.read.parquet(cellsDir(gen)).select(cols.map(col): _*)
    DeltaBatches.committedDeltaRows(spark, gen, cols, batches)
      .map(base.unionByName(_)).getOrElse(base)
  }

  /** Append a batch of new vectors to the committed index without
    * rebuilding — daily index maintenance (the ANN analog of
    * `q_incremental_dedup`): new vectors are assigned under the tip's
    * persisted centroids and encoded with its persisted codebooks (both are
    * frozen, which is what keeps probes and ADC tables valid for old and
    * new rows alike), written to `delta/batch=<bid>/cell=N` inside that
    * generation, and committed by appending the batch id to its `_batches`
    * manifest AFTER the data is durable.
    *
    * `bid` derives deterministically from the batch's content — id AND
    * embedding payload, via the two-fold hash in [[DeltaBatches.contentStats]]
    * — so a crashed-and-retried append
    * OVERWRITES its own batch directory instead of duplicating rows, and a
    * batch dir with no manifest row is invisible to `search`. A rebuild
    * installs a new generation with no deltas: its centroids changed.
    *
    * SINGLE WRITER per indexDir (see [[DeltaBatches]]): concurrent appends
    * could both pass the disjointness guard and commit overlapping ids.
    */
  def append(spark: SparkSession, indexDir: String, newVectors: DataFrame): Long = {
    val what = "AnnIndex.append"
    val (gen, codebooks) = open(spark, indexDir, what)
    val stats = DeltaBatches.contentStats(newVectors, what)
    if (stats.nDistinct < stats.n) DeltaBatches.failInternalDuplicates(newVectors, what)
    val bid = stats.bid
    val manifest = DeltaBatches.committedManifest(spark, gen) // read ONCE, reused below
    // replaying an ALREADY-COMMITTED batch (at-least-once retry after a
    // successful commit) is a no-op — that, plus overwrite-on-retry below,
    // is what gives the streaming sink its exactly-once effect
    if (manifest.exists(_.bid == bid)) return bid
    // a vec_id may live in the index once — digest-guarded (O(batch), not
    // O(index)); the exact base+delta scan is planned ONLY on a digest hit
    // (real duplicate or bloom false positive)
    val batchBloom = DeltaBatches.guardDisjoint(spark, gen, newVectors, stats, manifest,
      rows(spark, gen, Seq("vec_id"), manifest.map(_.bid)), what)
    encode(assignTo(newVectors, centroids(spark, gen)), codebooks)
      .write.mode("overwrite").partitionBy("cell")
      .option("partitionOverwriteMode", "static")
      .parquet(s"${DeltaBatches.deltaDir(gen)}/batch=$bid")
    // the manifest append IS the batch's commit marker; it carries the
    // batch's id digest, so digest and commit are atomic
    DeltaBatches.commit(spark, gen, bid, stats.n, batchBloom)
    bid
  }

  /** The top-`nprobe` cells of generation `gen` for a query vector: nCells
    * driver-side dot products against its centroid table, ranked by dot
    * descending, then cell ascending.
    */
  private[operators] def probe(spark: SparkSession, gen: String, query: Array[Float],
      nprobe: Int): Seq[Long] = {
    val q = query.map(_.toDouble)
    centroids(spark, gen).collect()
      .map(r => (r.getLong(0), dotd(r.getSeq[Float](1).map(_.toDouble).toArray, q)))
      .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1).toSeq
  }

  /** Probe the committed tip: only `nprobe` cell partitions are scanned —
    * in the base cells AND in every committed appended batch (uncommitted
    * batch dirs are excluded by the manifest filter, so a crashed append is
    * invisible). The probed rows are scored by the payload: `Flat` scores
    * each exactly; `Pq` prunes with ADC to `candidates` rows and re-ranks
    * those exactly against `embeddings` ([[PqIndex.searchRerank]]).
    * Output: (vec_id, cell, score), `score` the exact dot product rounded
    * to 4 places. A `queryVecId` absent from `embeddings` fails fast.
    */
  def search(spark: SparkSession, indexDir: String, embeddings: DataFrame,
      queryVecId: Long, nprobe: Int = 4, k: Int = 10, candidates: Int = 100): DataFrame = {
    val (gen, codebooks) = open(spark, indexDir, "AnnIndex.search")
    val q = Idioms.queryVecSpark(embeddings, queryVecId).limit(1).collect()
      .headOption.map(_.getSeq[Float](0).toArray).getOrElse(throw new IllegalArgumentException(
        s"AnnIndex.search: query vec_id $queryVecId is not in the embeddings table"))
    val cells = probe(spark, gen, q, nprobe)
    val probed = rows(spark, gen, Seq("vec_id", "cell", codebooks.fold("embedding")(_ => "codes")),
      DeltaBatches.committed(spark, gen))
      .where(col("cell").isin(cells: _*)) // partition-pruned scan
    val top = codebooks match {
      case None     => exactTop(probed, q, k)
      case Some(cb) => PqIndex.searchRerank(probed, embeddings, cb, q, k, candidates)
    }
    top.select(col("vec_id"), col("cell").cast("long").as("cell"), round(col("score"), 4).as("score"))
  }

  /** The top `k` of `rows` by exact dot product with `query`, ties by
    * vec_id: `embedding` becomes the unrounded `score`, other columns ride.
    */
  private[operators] def exactTop(rows: DataFrame, query: Array[Float], k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensure(rows.sparkSession)
    rows.withColumn("qv", typedLit(query.toSeq))
      .withColumn("score", expr(Idioms.dotSpark("embedding", "qv"))).drop("embedding", "qv")
      .orderBy(desc("score"), asc("vec_id")).limit(k)
  }

  /** Exact brute-force top-k `(vec_id, score)` (recall baseline): the
    * registry's `q_dense_topk` is this plan for row 0 and k = 10, so the
    * DuckDB oracle checks it.
    */
  def bruteForce(embeddings: DataFrame, queryVecId: Long, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.ensure(embeddings.sparkSession)
    Idioms.denseTopSpark(embeddings, queryVecId, k)
      .select(col("vec_id"), round(col("score_exact"), 4).as("score"))
  }
}
