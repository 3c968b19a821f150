package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-side scale path for
  * similarity search and the `Pq` payload of [[AnnIndex]]'s IVF cells:
  * a 64-dim float32 embedding (256 B) compresses to `numSub` byte codes
  * (8 B at the defaults, 32×), and queries score compressed vectors via
  * asymmetric distance computation (ADC) — a per-query lookup table of
  * query-subvector · centroid dot products, so scoring a vector is
  * `numSub` table lookups, no decompression.
  *
  * Spark shapes, sized for 100 TB:
  *  - **train**: codebooks fit on the driver by construction (numSub × k ×
  *    subDim floats ≈ 4 KB at defaults) and train on a BOUNDED
  *    deterministic hash-sample (the same `xxhash64` rule as
  *    [[AnnIndex]]) — never on the full table.
  *  - **encode**: a map-only UDF with broadcast codebooks (a per-row
  *    8×16×8 float loop — genuine imperative kernel work) that replaces
  *    the embedding with its 8-byte codes, the thing you'd persist.
  *  - **search**: the ADC table ships as a LITERAL column (it's per-query,
  *    numSub·k doubles), scoring is an unrolled codegen'd projection over
  *    the codes array — scan + arithmetic, zero shuffle — and top-k
  *    compiles to TakeOrderedAndProject. The production two-stage shape
  *    (`searchRerank`) re-ranks only the ADC top-`candidates` with exact
  *    dot products against the full vectors.
  */
object PqIndex {

  /** codebooks(sub)(code)(d) — sub-quantizer centroids. */
  type Codebooks = Array[Array[Array[Float]]]

  /** Deterministic per-subspace Lloyd k-means on a bounded hash-sample.
    * Seeding: first k sample subvectors in hash order (the sample order is
    * already pseudo-random); empty clusters keep their previous centroid.
    */
  def train(
      emb: DataFrame,
      numSub: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      sampleSize: Int = 2048): Codebooks = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val subDim = dim / numSub
    Array.tabulate(numSub) { s =>
      val subVecs = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      var cents = subVecs.take(k).map(_.clone)
      if (cents.length < k) cents = cents ++ Array.fill(k - cents.length)(cents.head.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        subVecs.foreach { v =>
          val c = nearest(cents, v)
          counts(c) += 1
          var d = 0
          while (d < subDim) { sums(c)(d) += v(d); d += 1 }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(subDim)(d => (sums(c)(d) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  private def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d2 = 0.0; var d = 0
      while (d < v.length) { val x = v(d) - cents(c)(d); d2 += x * x; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** Map-only encode: the `embedding` column becomes `codes BIGINT` — the
    * `numSub` byte codes PACK into one long (code s in bits 8s..8s+7), so a
    * compressed vector is exactly 8 bytes with zero array/offset overhead,
    * and code extraction at query time is plain integer bit math inside
    * codegen. Every other column rides through, so an IVF assignment
    * `(vec_id, cell, embedding)` encodes to `(vec_id, cell, codes)`.
    * Requires numSub <= 8 and k <= 256. Broadcast codebooks; no shuffle.
    */
  def encode(emb: DataFrame, cb: Codebooks): DataFrame = {
    val numSub = cb.length
    require(numSub <= 8 && cb(0).length <= 256, "packed encoding needs numSub <= 8, k <= 256")
    val bc = emb.sparkSession.sparkContext.broadcast(cb)
    val subDim = cb(0)(0).length
    val pack = udf { (e: Seq[Float]) =>
      val books = bc.value
      val v = e.toArray
      var codes = 0L
      var s = 0
      while (s < numSub) {
        val c = nearest(books(s), java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
        codes |= c.toLong << (8 * s)
        s += 1
      }
      codes
    }
    emb.withColumn("vec_id", col("vec_id").cast("long"))
      .withColumn("codes", pack(col("embedding"))).drop("embedding")
  }

  /** Codebook persistence: one row per (sub, code) sub-centroid. Floats
    * round-trip parquet exactly, so a loaded codebook scores bit-identically
    * to the trained one.
    */
  def saveCodebooks(spark: org.apache.spark.sql.SparkSession, cb: Codebooks, dir: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- cb.indices; c <- cb(s).indices
    } yield (s, c, cb(s)(c).toSeq)
    rows.toDF("sub", "code", "cvec").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def loadCodebooks(spark: org.apache.spark.sql.SparkSession, dir: String): Codebooks = {
    val rows = graft.pipeline.VersionedTable.readHidden(spark, dir)
      .getOrElse(sys.error(s"no PQ codebooks under $dir")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
    val numSub = rows.keys.map(_._1).max + 1
    val k = rows.keys.map(_._2).max + 1
    Array.tabulate(numSub, k)((s, c) => rows((s, c)))
  }

  /** The per-query ADC table flattened to tbl(s*k + c) = query_s · cent_c,
    * and the unrolled codegen'd score column
    * Σ_s tbl[s*k + ((codes >> 8s) & 255)].
    */
  private[operators] def adcScore(cb: Codebooks, query: Array[Float]): Column = {
    val numSub = cb.length; val k = cb(0).length; val subDim = cb(0)(0).length
    val tbl: Seq[Double] = for {
      s <- 0 until numSub; c <- 0 until k
    } yield {
      var d = 0; var acc = 0.0
      while (d < subDim) { acc += query(s * subDim + d).toDouble * cb(s)(c)(d); d += 1 }
      acc
    }
    val tblCol = typedLit(tbl)
    (0 until numSub).map { s =>
      element_at(tblCol,
        (shiftright(col("codes"), 8 * s).bitwiseAND(lit(255L))).cast("int") + lit(s * k + 1))
    }.reduce(_ + _)
  }

  /** ADC-only top-k over the compressed table: scan + codegen arithmetic +
    * TakeOrderedAndProject; no shuffle, nothing decompressed. Output: the
    * columns of `encoded` other than `codes`, plus `score_adc`.
    */
  def search(encoded: DataFrame, cb: Codebooks, query: Array[Float], topK: Int): DataFrame =
    encoded.withColumn("score_adc", adcScore(cb, query)).drop("codes")
      .orderBy(desc("score_adc"), asc("vec_id")).limit(topK)

  /** Production two-stage search: ADC prunes to `candidates`, exact dot
    * products re-rank just those against the full vectors (a semi-join-sized
    * read, not a full-table scan of floats). Output: the columns of
    * `encoded` other than `codes` (an IVF row's `cell` rides through), plus
    * the exact `score`.
    */
  def searchRerank(
      encoded: DataFrame,
      emb: DataFrame,
      cb: Codebooks,
      query: Array[Float],
      topK: Int,
      candidates: Int = 100): DataFrame = {
    val cand = search(encoded, cb, query, candidates).drop("score_adc")
    AnnIndex.exactTop(emb.select(col("vec_id"), col("embedding")).join(broadcast(cand), "vec_id"),
      query, topK)
  }
}
