package graft.operators

import graft.pipeline.VersionedTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The incremental-append commit protocol of [[AnnIndex]], the same for
  * either payload (raw vectors or PQ codes). An index directory is a
  * [[graft.pipeline.VersionedTable]] root: each build installs a new
  * generation, and `AnnIndex` resolves the committed one. Every method
  * here takes that generation directory (`gen`), so deltas and the
  * `_batches` manifest live inside the generation they were assigned under,
  * and a rebuild starts with none:
  *
  *   - `contentStats` derives the batch id from the batch CONTENT — two
  *     independent order-free folds over `xxhash64(vec_id, embedding)` (an
  *     XOR fold plus a wide-decimal modular SUM fold; XOR alone cancels
  *     duplicate rows, the sum fold does not, so two different batches
  *     cannot collide through duplicate-pair cancellation) combined with
  *     the row count. A crashed-and-retried append therefore overwrites
  *     its own `delta/batch=<bid>` directory instead of duplicating rows,
  *     and a batch re-carrying the same ids with refreshed embeddings gets
  *     a NEW id (then rejected as an unsupported upsert). The same
  *     aggregation also returns the distinct-id count, so the
  *     batch-internal duplicate guard costs no extra job;
  *   - `commit` appends the id to the generation's manifest
  *     ([[VersionedTable.appendManifest]]) strictly AFTER the batch data is
  *     durable — the manifest row IS the commit marker, and `committed` is
  *     the only set a search may read. Each manifest row also carries the
  *     batch's id BLOOM DIGEST (see `guardDisjoint`), so digest and commit
  *     are atomic by construction — a digest can never be missing for a
  *     committed batch, and a crashed batch's digest dies with its manifest
  *     row. The id formula AND the row layout are part of the generation's
  *     format tag (`ivf-flat-v1` / `ivf-pq-v1`): changing either bumps the
  *     tag, and `AnnIndex` refuses a generation of any other tag;
  *   - `guardDisjoint` enforces the append precondition: a vec_id may live
  *     in the index exactly once. Upsert is NOT supported — a batch
  *     re-carrying an existing id would make top-k return the id twice
  *     (silently shrinking effective k), so the append fails fast instead.
  *     The guard's cost is INDEPENDENT of index size: it tests the batch
  *     ids against the persisted bloom digests (the base index's
  *     `_idbloom`, written at build, plus one per committed batch from the
  *     manifest) in a single map-only pass over the BATCH; only a digest
  *     hit — a real duplicate or a bloom false positive (`BloomFpp` = 1e-6
  *     per tested id) — falls back to the exact scan of the index's vec_id
  *     column. An always-on streaming sink therefore pays O(batch +
  *     manifest) per micro-batch, not O(index).
  *
  * CONCURRENCY: the protocol assumes a SINGLE WRITER per indexDir. Two
  * concurrent appends of different batches could each pass the disjointness
  * guard against base+committed and then both commit overlapping vec_ids.
  * An append racing a rebuild lands in the generation it resolved, which
  * the rebuild supersedes: the batch is invisible to every later search
  * (it is never committed under the new centroids) and must be appended
  * again to the new tip. Batch maintenance and the streaming sink (whose
  * foreachBatch micro-batches are already serial) must not share an
  * indexDir with another writer; readers are unrestricted.
  */
private[operators] object DeltaBatches {

  /** Bloom parameters: expected-items cap and target false-positive rate.
    *
    * The fpp must be read PER APPEND, not per id: an append falls back to
    * the exact scan if ANY of its ids false-positives in ANY digest, i.e.
    * with probability ≈ batchRows × digests × fpp. At 1e-6 a 10k-row
    * micro-batch against a base + 100 committed batches falls back ~once
    * per thousand appends; the conventional 1% would fall back EVERY time
    * and silently reinstate the O(index) scan. Cost: ~3.6 B/id
    * (≈30 MB at the cap).
    *
    * The cap bounds digest bytes; a base index or batch beyond it
    * saturates its bloom GRACEFULLY — the guard stays correct (blooms have
    * no false negatives) but falls back more often.
    */
  private val BloomCap = 8L << 20
  private val BloomFpp = 1e-6

  /** Above this batch size the exact-fallback join drops the broadcast hint
    * (a backlogged streaming micro-batch could exceed the broadcast limit
    * or OOM the driver) and lets the planner shuffle instead. Shared with
    * the streaming dedup sink's verdict path (DedupOps.incrementalVerdicts)
    * so both sinks gate their broadcasts consistently.
    */
  private[graft] val BroadcastMaxRows = 1000000L

  def deltaDir(gen: String): String    = s"$gen/delta"
  def baseBloomFile(gen: String): String = s"$gen/_idbloom"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  final case class ContentStats(bid: Long, n: Long, nDistinct: Long)

  def contentStats(batch: DataFrame, what: String): ContentStats = {
    val r = batch.agg(
      expr("bit_xor(xxhash64(vec_id, embedding))").as("h1"),
      expr("cast(sum(cast(xxhash64(embedding, vec_id) as decimal(38, 0))) % 9223372036854775783 as bigint)").as("h2"),
      count(lit(1)).as("n"),
      countDistinct(col("vec_id")).as("nd"),
      count(col("vec_id")).as("nonNull")).collect()(0)
    require(r.getLong(2) > 0, s"$what: empty batch")
    // reject null ids explicitly — countDistinct ignores nulls, so without
    // this a null id would masquerade as an internal duplicate (or NPE in
    // the error path naming the offenders)
    require(r.getLong(4) == r.getLong(2),
      s"$what: batch carries ${r.getLong(2) - r.getLong(4)} null vec_id row(s); ids must be non-null")
    ContentStats(
      r.getLong(0) ^ java.lang.Long.rotateLeft(r.getLong(1), 17) ^ r.getLong(2),
      r.getLong(2), r.getLong(3))
  }

  /** Fails naming up to five offending ids — only called once `contentStats`
    * has already detected `nDistinct < n`, so the extra job runs only on
    * the error path.
    */
  def failInternalDuplicates(batch: DataFrame, what: String): Nothing = {
    val ids = batch.groupBy(col("vec_id")).count()
      .where(col("count") > 1).limit(5).collect().map(_.getLong(0))
    throw new IllegalArgumentException(
      s"$what: batch carries duplicate vec_ids within itself (${ids.mkString(", ")}, ...): " +
        "dedup the batch before appending; a duplicated id would appear twice in top-k")
  }

  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("batch",
      org.apache.spark.sql.types.LongType, false),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType, false),
    org.apache.spark.sql.types.StructField("bloom",
      org.apache.spark.sql.types.BinaryType, false)))

  // search-path projection: only the committed ids (never deserializes the
  // digests — a probe must not pay driver memory for them)
  private val manifestIdSchema = org.apache.spark.sql.types.StructType(
    manifestSchema.fields.take(1))

  final case class ManifestRow(bid: Long, n: Long, bloom: Array[Byte])

  private def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  private def bloomOf(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** One distributed pass building the id digest for `n` ids. */
  def idBloom(ids: DataFrame, n: Long): BloomFilter = {
    ids.stat.bloomFilter("vec_id",
      math.min(math.max(n, 1L), BloomCap), BloomFpp)
  }

  /** Persist the BASE index's id digest — called by `build` after the cell
    * data is durable and BEFORE the generation commits, so a committed
    * index always has its digest (the guard treats a missing file as a
    * legacy index and falls back to the exact scan — correct, just slow).
    */
  def writeBaseBloom(spark: SparkSession, gen: String, ids: DataFrame): Unit = {
    val n = ids.count()
    val bytes = bloomBytes(idBloom(ids, n))
    val fs = fsOf(spark, gen)
    val out = fs.create(new org.apache.hadoop.fs.Path(baseBloomFile(gen)), true)
    try out.write(bytes) finally out.close()
  }

  private def readBaseBloomBytes(spark: SparkSession, gen: String): Option[Array[Byte]] = {
    val fs = fsOf(spark, gen)
    val p = new org.apache.hadoop.fs.Path(baseBloomFile(gen))
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  def commit(spark: SparkSession, gen: String, bid: Long, n: Long,
      batchBloom: BloomFilter): Unit =
    VersionedTable.appendManifest(gen, spark.createDataFrame(
      java.util.List.of(Row(bid, n, bloomBytes(batchBloom))), manifestSchema))

  def committed(spark: SparkSession, gen: String): Seq[Long] =
    VersionedTable.readManifest(spark, gen, manifestIdSchema).fold(Seq.empty[Long])(
      _.select("batch").distinct().collect().map(_.getLong(0)).toSeq)

  /** Full manifest rows (id + digest) — the append path reads the manifest
    * exactly once through here and reuses it for the replay check, the
    * disjointness guard, and the delta filter.
    */
  def committedManifest(spark: SparkSession, gen: String): Seq[ManifestRow] =
    VersionedTable.readManifest(spark, gen, manifestSchema).fold(Seq.empty[ManifestRow])(
      _.collect().map(r => ManifestRow(r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2)))
        .groupBy(_.bid).map(_._2.head).toSeq)

  /** Committed delta rows with the given columns, or None if no batch was
    * ever committed. `batches` is the committed set (`committed`, or the ids
    * of an already-read manifest) — an uncommitted (crashed) batch
    * directory must stay invisible.
    */
  def committedDeltaRows(spark: SparkSession, gen: String, cols: Seq[String],
      batches: Seq[Long]): Option[DataFrame] = {
    if (batches.isEmpty) None
    else Some(spark.read.parquet(deltaDir(gen))
      .where(col("batch").isin(batches: _*))
      .select(cols.map(col): _*))
  }

  /** The disjointness guard (see object doc). Returns the batch's own
    * digest so `commit` persists the SAME filter the guard tested against —
    * computed once, one job over the batch.
    *
    * `existingIds` is BY-NAME: on the fast path (all digests present, no
    * hit) the exact index scan is never even planned — the guard's total
    * I/O is the batch itself plus the already-read manifest.
    */
  def guardDisjoint(spark: SparkSession, gen: String, batch: DataFrame,
      stats: ContentStats, manifest: Seq[ManifestRow],
      existingIds: => DataFrame, what: String): BloomFilter = {
    val batchBloom = idBloom(batch.select(col("vec_id")), stats.n)
    val digests: Option[Seq[Array[Byte]]] =
      readBaseBloomBytes(spark, gen).map(_ +: manifest.map(_.bloom))
    val provenDisjoint = digests.exists { ds =>
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(ds.toArray)
      try {
        // map-only membership pass over the BATCH ids: blooms have no false
        // negatives, so zero hits PROVES disjointness without touching the
        // index; mapPartitions deserializes each digest once per partition
        batch.select(col("vec_id")).as[Long].mapPartitions { it =>
          val blooms = bc.value.map(bloomOf)
          it.filter(id => blooms.exists(_.mightContainLong(id)))
        }.isEmpty
      } finally { bc.unpersist(); () }
    }
    if (!provenDisjoint) requireDisjointExact(existingIds, batch, stats.n, what)
    batchBloom
  }

  /** Exact fallback — one narrow scan of the index's vec_id column against
    * the batch (broadcast below [[BroadcastMaxRows]], shuffle join above:
    * a backlogged streaming micro-batch must not OOM the driver).
    */
  def requireDisjointExact(existingIds: DataFrame, batch: DataFrame, n: Long,
      what: String): Unit = {
    val batchIds = batch.select(col("vec_id"))
    val probe = if (n <= BroadcastMaxRows) broadcast(batchIds) else batchIds
    val dup = existingIds.select(col("vec_id"))
      .join(probe, "vec_id")
      .limit(5).collect().map(_.getLong(0))
    require(dup.isEmpty,
      s"$what: batch re-carries vec_ids already in the index (${dup.mkString(", ")}, ...): " +
        "upsert is not supported; a duplicated id would appear twice in top-k. " +
        "Rebuild the index, or assign fresh ids to the new vectors")
  }
}
