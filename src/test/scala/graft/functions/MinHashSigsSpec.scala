package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native batch MinHash fold must be indistinguishable from the portable
  * per-j HOF form that remains the DuckDB oracle text — value-identical on
  * real corpus shingles, same null/empty semantics, and actually inside
  * whole-stage codegen (the entire point of the native expression).
  */
class MinHashSigsSpec extends SparkTestBase {
  import spark.implicits._

  private val n = 8
  private def portable(j: Int) =
    s"array_min(transform(shingles, s -> cast(conv(substring(md5(concat(s, '#$j')), 1, 15), 16, 10) as bigint)))"

  test("minhash_sigs equals the portable per-j array_min(transform(...)) folds on corpus shingles") {
    GraftFunctions.ensure(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .where(expr("size(toks) >= 3"))
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' '," +
          " element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))").as("shingles"))
    val out = docs.select(
      expr(s"minhash_sigs(shingles, $n)").as("native") +:
        (0 until n).map(j => expr(portable(j)).as(s"p$j")): _*).collect()
    assert(out.nonEmpty)
    for (r <- out; j <- 0 until n)
      assert(r.getSeq[Long](0)(j) == r.getLong(1 + j), s"row $r hash $j")
  }

  test("null/empty semantics: null array -> null, empty -> null minima, null elements skipped") {
    GraftFunctions.ensure(spark)
    val df = Seq(
      (1L, Array[String]("a b c", "b c d")),
      (2L, Array.empty[String]),
      (3L, null.asInstanceOf[Array[String]]),
      (4L, Array[String](null, "x y z")),
      (5L, Array[String](null))
    ).toDF("id", "shingles")
    val out = df.select(col("id"), expr("minhash_sigs(shingles, 2)").as("native"),
        expr(portable(0)).as("p0"), expr(portable(1)).as("p1"))
      .collect().sortBy(_.getLong(0))
    for (r <- out) {
      if (r.isNullAt(1)) assert(r.isNullAt(2) && r.isNullAt(3), r.toString)
      else {
        val sigs = r.getSeq[Any](1)
        assert((sigs(0) == null) == r.isNullAt(2), r.toString)
        assert((sigs(1) == null) == r.isNullAt(3), r.toString)
        if (sigs(0) != null) assert(sigs(0) == r.getLong(2), r.toString)
        if (sigs(1) != null) assert(sigs(1) == r.getLong(3), r.toString)
      }
    }
  }

  test("minhash_sigs stays inside whole-stage codegen") {
    GraftFunctions.ensure(spark)
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr("minhash_sigs(split(text, ' '), 8)").as("sigs"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [minhash_sigs"), plan.take(2000))
  }

  test("arity and type validation fail analysis with clear messages") {
    GraftFunctions.ensure(spark)
    val df = Seq(Tuple1(Array("a"))).toDF("shingles")
    val e1 = intercept[Exception](df.select(expr("minhash_sigs(shingles)")).collect())
    assert(e1.getMessage.contains("2 arguments"), e1.getMessage)
    val e2 = intercept[Exception](
      Seq(Tuple1(1L)).toDF("x").select(expr("minhash_sigs(x, 8)")).collect())
    assert(e2.getMessage != null)
  }

  test("minhash_sigs numHashes: any foldable integral is accepted; a column fails analysis naming the function") {
    GraftFunctions.ensure(spark)
    val df = Seq(Tuple1(Array("a b c", "b c d")), Tuple1(Array("x y z"))).toDF("shingles")
    val want = df.select(expr("minhash_sigs(shingles, 4)")).collect().toSeq
    assert(df.select(expr("minhash_sigs(shingles, 4L)")).collect().toSeq == want)
    assert(df.select(expr("minhash_sigs(shingles, CAST(4 AS SMALLINT))")).collect().toSeq == want)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.withColumn("k", lit(4)).select(expr("minhash_sigs(shingles, k)")).collect())
    assert(e.getMessage.contains("`minhash_sigs`"), e.getMessage)
  }
}
