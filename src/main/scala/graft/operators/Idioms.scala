package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{asc, broadcast, col, concat, desc, expr, least, length, lit,
  substring, when}

/** The cross-engine SQL idioms every operator family shares. ONE copy —
  * each Spark form must stay in lockstep with its DuckDB twin, so drift
  * between per-file copies would silently break oracle parity.
  * `RuleInventorySpec` pins every rule below to this file.
  */
private[graft] object Idioms {

  /** Uniform 60-bit hash of a string expression — md5 prefix as bigint.
    * 60 bits (15 hex digits) because DuckDB's BIGINT is signed: a 16-digit
    * prefix could go negative there. The Spark side is the native
    * `md5prefix64` (registered by `GraftFunctions`), which equals the
    * portable `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)`.
    */
  def h60Spark(x: String) = s"md5prefix64($x)"
  def h60Duck(x: String)  = s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** Whitespace tokenization with empties dropped — the token definition
    * every token count, shingle, and packing computation agrees on.
    */
  val toksSpark = "filter(split(text, ' '), t -> t <> '')"
  val toksDuck  = "list_filter(str_split(text, ' '), t -> t <> '')"

  /** Number of stopwords in a token array expression — the stopword set of
    * the quality composite.
    */
  def stopCountSpark(toks: String) = s"size(filter($toks, t -> t IN ('the', 'a')))"
  def stopCountDuck(toks: String)  = s"len(list_filter($toks, t -> t IN ('the', 'a')))"

  /** 3-gram word shingles (with repeats, in order). The Spark side reads a
    * *staged* `toks` column: inlining the split() into the lambda would
    * re-evaluate it per array element (O(L²) per doc; measured 13-23s vs
    * <2s at sf0.1).
    */
  val shinglesSpark =
    "transform(sequence(1, size(toks) - 2)," +
      " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"
  val shinglesDuck =
    s"list_transform(generate_series(1, len($toksDuck) - 2)," +
      s" i -> array_to_string(($toksDuck)[i:i+2], ' '))"

  /** The quality composite 0.7·min(words,100)/100 + 0.3·(1 − stops/words)
    * over integer word and stop counts. NO rounding: an identical
    * expression tree (and cast order) on both engines is bit-identical
    * IEEE-754, which the oracle compares at full precision — reordering
    * either side breaks parity.
    */
  def qualitySpark(words: Column, stops: Column): Column =
    (least(words, lit(100)).cast("double") / 100.0) * 0.7 +
      (lit(1.0) - stops.cast("double") / words.cast("double")) * 0.3
  def qualityDuck(words: String, stops: String): String =
    s"(CAST(least($words, 100) AS DOUBLE) / 100.0) * 0.7 +\n" +
      s"  (1.0 - CAST($stops AS DOUBLE) / CAST($words AS DOUBLE)) * 0.3"

  /** The repetition rule's duplicate fraction 1 − distinct/total over
    * integer counts (distinct and total 3-gram shingles of a doc). Both
    * operands are exact small integers in double (below 2^53), so where
    * the total is formed — `size(toks) - 2` as an integer or a double —
    * does not change a bit: one IEEE-754 division and one subtraction on
    * both engines give identical results.
    */
  def dupFracSpark(distinct: Column, total: Column): Column =
    lit(1.0) - distinct.cast("double") / total.cast("double")
  def dupFracDuck(distinct: String, total: String): String =
    s"1.0 - CAST($distinct AS DOUBLE) / CAST($total AS DOUBLE)"

  /** [[qualitySpark]] over a staged `toks` column. */
  def qualityOfToks: Column = qualitySpark(expr("size(toks)"), expr(stopCountSpark("toks")))

  /** The quality composite in EXACT integer micro units (×1e6):
    * 0.7·min(words,100)/100 becomes min(words,100)·7000 and
    * 0.3·(1−stops/words) becomes ((words−stops)·300000) div words. bigint
    * throughout on the Spark side — size() is 32-bit Int and
    * (words−stops)·300000 wraps past ~7k tokens. `MiningOpsSpec`
    * cross-checks the micro value against [[qualityOfToks]].
    */
  val qualityMicroSpark =
    s"least(cast(size($toksSpark) as bigint), 100) * 7000 + " +
      s"((cast(size($toksSpark) as bigint) - " +
      s"cast(${stopCountSpark(toksSpark)} as bigint)) * 300000) " +
      s"div cast(size($toksSpark) as bigint)"
  val qualityMicroDuck =
    s"least(len($toksDuck), 100) * 7000 + " +
      s"((len($toksDuck) - ${stopCountDuck(toksDuck)}) * 300000) " +
      s"// len($toksDuck)"

  /** T12 `truncate_text` (app.py:44-48): a text over 500 characters keeps
    * its first 500 and gains "...".
    */
  def truncateSpark(text: Column): Column =
    when(length(text) <= 500, text).otherwise(concat(substring(text, 1, 500), lit("...")))
  def truncateDuck(text: String): String =
    s"CASE WHEN length($text) <= 500 THEN $text ELSE substring($text, 1, 500) || '...' END"

  /** Deterministic 80/10/10 train/val/test assignment by a hash bucket of
    * `doc_id` (stable across runs and engines, no RNG state).
    */
  def splitSpark: Column = {
    val bucket = expr(s"${h60Spark("cast(doc_id as string)")} % 10")
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }
  val splitDuck: String = {
    val bucket = s"${h60Duck("CAST(doc_id AS VARCHAR)")} % 10"
    s"CASE WHEN $bucket < 8 THEN 'train' WHEN $bucket = 8 THEN 'val' ELSE 'test' END"
  }

  /** Dot product of two float arrays: elements cast to double before the
    * multiply, summed in index order, so both engines agree bit for bit.
    * The Spark side is the native `vec_dot` (registered by `GraftFunctions`),
    * the portable aggregate(zip_with(...)) fold inside whole-stage codegen.
    */
  def dotSpark(a: String, b: String) = s"vec_dot($a, $b)"
  def dotDuck(a: String, b: String) =
    s"list_aggregate(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')"

  /** Euclidean norm and cosine similarity of float arrays. */
  def normSpark(v: String) = s"sqrt(${dotSpark(v, v)})"
  def normDuck(v: String) =
    s"sqrt(list_aggregate(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
  def cosineSpark(a: String, b: String) = s"${dotSpark(a, b)} / (${normSpark(a)} * ${normSpark(b)})"
  def cosineDuck(a: String, b: String) = s"${dotDuck(a, b)} / (${normDuck(a)} * ${normDuck(b)})"

  /** The query vector `qvec`: embedding row `id`; the registry asks for row
    * 0, which the DuckDB twin fixes.
    */
  def queryVecSpark(e: DataFrame, id: Long): DataFrame =
    e.where(col("vec_id") === id).select(col("embedding").as("qvec"))
  val queryVecDuck = "(SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)"

  /** Exact dense top-`k` `(vec_id, score_exact)` for query row `id`: dot
    * product descending, then vec_id, over the broadcast one-row query
    * vector (TakeOrderedAndProject; the big side is never shuffled). The
    * DuckDB twin is the subquery `(vec_id, sc, rn)` for row 0.
    */
  def denseTopSpark(e: DataFrame, id: Long, k: Int): DataFrame =
    e.crossJoin(broadcast(queryVecSpark(e, id)))
      .select(col("vec_id"), expr(dotSpark("embedding", "qvec")).as("score_exact"))
      .orderBy(desc("score_exact"), asc("vec_id")).limit(k)
  def denseTopDuck(k: Int): String =
    s"""(SELECT * FROM (
       |  SELECT vec_id, sc, row_number() OVER (ORDER BY sc DESC, vec_id) AS rn
       |  FROM (SELECT e.vec_id, ${dotDuck("e.embedding", "q.qvec")} AS sc
       |        FROM embeddings e, $queryVecDuck q)) WHERE rn <= $k)""".stripMargin

  /** An events row's 0/1 relevance feedback (the reference's thumbs up). */
  def feedbackSpark: Column = col("value") > 100
  val feedbackDuck = "value > 100"
}
