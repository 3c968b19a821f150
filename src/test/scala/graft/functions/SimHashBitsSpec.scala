package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native majority-vote SimHash must match the portable per-bit fold
  * (the DuckDB oracle text) exactly — on real corpus hashes and on the edge
  * cases the fold defines implicitly: null elements and negative hashes
  * count in the denominator but never pass the bit test, an empty array
  * sets every bit.
  */
class SimHashBitsSpec extends SparkTestBase {
  import spark.implicits._

  private def portable(bits: Int) =
    s"""aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), (acc, b) ->
       |  acc + if(2 * size(filter(hashes, h -> shiftright(h, b) % 2 = 1)) >= size(hashes),
       |           shiftleft(cast(1 as bigint), b), cast(0 as bigint)))""".stripMargin

  test("simhash_bits equals the portable fold on corpus shingle hashes (60-bit)") {
    GraftFunctions.ensure(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .where(expr("size(toks) > 0"))
      .select(col("doc_id"), expr(
        "transform(array_distinct(toks)," +
          " t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))").as("hashes"))
    val out = docs.select(
      expr("simhash_bits(hashes, 60)").as("native"), expr(portable(60)).as("p")).collect()
    assert(out.nonEmpty)
    for (r <- out) assert(r.getLong(0) == r.getLong(1), r.toString)
  }

  test("edge semantics: empty sets all bits; nulls and negatives count only in the denominator") {
    GraftFunctions.ensure(spark)
    val df = Seq(
      (1L, Array[java.lang.Long](5L, 7L, 1L)),
      (2L, Array.empty[java.lang.Long]),
      (3L, Array[java.lang.Long](null, 7L)),
      (4L, Array[java.lang.Long](-1L, 7L, 7L)),
      (5L, Array[java.lang.Long](null, null))
    ).toDF("id", "hashes")
    val out = df.select(col("id"),
        expr("simhash_bits(hashes, 8)").as("native"), expr(portable(8)).as("p"))
      .collect().sortBy(_.getLong(0))
    for (r <- out) assert(r.getLong(1) == r.getLong(2), r.toString)
    // empty array: 2*0 >= 0 -> all 8 bits
    assert(out(1).getLong(1) == 0xffL, out(1).toString)
  }

  test("simhash_bits stays inside whole-stage codegen") {
    GraftFunctions.ensure(spark)
    val df = spark.read.parquet(s"$sfDir/events.parquet")
      .select(expr("simhash_bits(array(event_id, user_id), 16)").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [simhash_bits"), plan.take(2000))
  }

  test("simhash_bits numBits: any foldable integral is accepted; a column fails analysis naming the function") {
    GraftFunctions.ensure(spark)
    val df = Seq(Tuple1(Array(5L, 7L, 1L)), Tuple1(Array(-1L, 7L))).toDF("hashes")
    val want = df.select(expr("simhash_bits(hashes, 8)")).collect().toSeq
    assert(df.select(expr("simhash_bits(hashes, 8L)")).collect().toSeq == want)
    assert(df.select(expr("simhash_bits(hashes, CAST(8 AS SMALLINT))")).collect().toSeq == want)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.withColumn("k", lit(8)).select(expr("simhash_bits(hashes, k)")).collect())
    assert(e.getMessage.contains("`simhash_bits`"), e.getMessage)
  }
}
