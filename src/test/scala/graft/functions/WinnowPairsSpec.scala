package graft.functions

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** The native winnow must be indistinguishable from the portable forms it
  * replaces: the per-window `array_min(slice(...))` HOF fold (the DuckDB
  * oracle text for the substring family) and the reference model below —
  * including the rightmost-tie rule, the single-whole-array window for
  * short inputs, and null handling. The expression emits the per-doc
  * DISTINCT pairs directly (selection positions are non-decreasing, so
  * duplicates are consecutive runs); the reference model here re-derives
  * that from first principles.
  */
class WinnowPairsSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference winnow: all windows, rightmost-tie min, consecutive-dup
    * collapse — an independent reimplementation of the contract.
    */
  private def ref(h: Seq[java.lang.Long], w: Int): Seq[(Int, Long)] = {
    val n = h.length
    val nw = if (n >= w) n - w + 1 else 1
    val sel = (0 until nw).flatMap { s =>
      val win = (s until math.min(s + w, n)).filter(i => h(i) != null)
      if (win.isEmpty) None
      else {
        val mn = win.map(i => h(i).longValue).min
        Some((win.filter(i => h(i) == mn).max, mn)) // rightmost tie
      }
    }
    sel.foldLeft(Vector.empty[(Int, Long)]) { (acc, p) =>
      if (acc.nonEmpty && acc.last == p) acc else acc :+ p
    }
  }

  /** Per-doc 3-gram hashes `(doc_id, hs)` over the corpus, hashed with
    * the portable conv form: q_winnow's input, built independently of it.
    */
  private def gramHashes = spark.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
    .where(expr("size(toks) >= 3"))
    .select(col("doc_id"), expr(
      "transform(transform(sequence(1, size(toks) - 2), i -> concat_ws(' '," +
        " element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))," +
        " s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))").as("hs"))

  test("winnow_pairs equals the reference winnow on corpus gram hashes (w=4 and w=8)") {
    GraftFunctions.ensure(spark)
    val rows = gramHashes
      .select(col("doc_id"), col("hs"),
        expr("winnow_pairs(hs, 4)").as("w4"), expr("winnow_pairs(hs, 8)").as("w8"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows; (w, idx) <- Seq((4, 2), (8, 3))) {
      val hs = r.getSeq[Long](1).map(java.lang.Long.valueOf)
      val got = r.getSeq[org.apache.spark.sql.Row](idx)
        .map(p => (p.getInt(0), p.getLong(1)))
      assert(got == ref(hs, w), s"doc ${r.getLong(0)} w=$w")
    }
  }

  test("edge semantics: rightmost ties, short arrays, nulls, run-compressed distinctness") {
    GraftFunctions.ensure(spark)
    val fixture = Seq(
      (1L, Array[java.lang.Long](5L, 3L, 3L, 7L, 3L, 9L)),      // ties -> rightmost
      (2L, Array[java.lang.Long](4L, 2L)),                       // n < w: one whole-array window
      (3L, Array[java.lang.Long](8L)),                           // single element
      (4L, Array[java.lang.Long](null, 6L, null, 1L)),           // null elements skipped
      (5L, Array[java.lang.Long](null, null)),                   // all-null -> one null element
      (6L, Array.empty[java.lang.Long]),                         // empty -> one empty window -> null
      (7L, Array[java.lang.Long](1L, 1L, 1L, 1L, 1L)),           // constant run collapses
      (8L, Array[java.lang.Long](null, null, null, 1L, null, null, null)) // two all-null runs -> one null
    ).toDF("id", "hs")
    // the portable per-window fold (rightmost-tie min pair) under
    // array_distinct, the set the native expression must equal
    val hof = "array_distinct(transform(sequence(1, greatest(size(hs) - 2, 1)), s ->" +
      " aggregate(slice(transform(hs, (x, i) -> named_struct('pos', i, 'fp', x)), s, 3)," +
      " cast(null as struct<pos:int,fp:bigint>), (acc, p) -> CASE WHEN p.fp IS NULL THEN acc" +
      " WHEN acc IS NULL OR p.fp <= acc.fp THEN p ELSE acc END)))"
    val df = fixture.select(col("id"), expr("winnow_pairs(hs, 3)").as("wp"), expr(hof).as("hof"))
    val rows = df.collect()
    for (r <- rows) assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"id ${r.getLong(0)}")
    val out = rows.map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap

    def pairs(id: Long) = out(id).map {
      case null => null
      case p: org.apache.spark.sql.Row => (p.getInt(0), p.getLong(1))
    }
    // id 1, w=3: wins [5,3,3]->(2,3) [3,3,7]->(2,3) [3,7,3]->(4,3) [7,3,9]->(4,3)
    assert(pairs(1L) == Seq((2, 3L), (4, 3L)))
    assert(pairs(2L) == Seq((1, 2L)))
    assert(pairs(3L) == Seq((0, 8L)))
    // id 4 (n=4, w=3 -> two windows): [null,6,null] -> (1,6); [6,null,1] -> (3,1)
    assert(pairs(4L) == Seq((1, 6L), (3, 1L)))
    assert(pairs(5L) == Seq(null))
    assert(pairs(6L) == Seq(null))
    // id 7: every window selects its rightmost 1 -> positions 2, 3, 4
    assert(pairs(7L) == Seq((2, 1L), (3, 1L), (4, 1L)))
    // id 8: [n,n,n] -> null, three windows -> (3,1), [n,n,n] -> null again
    assert(pairs(8L) == Seq(null, (3, 1L)))
    // no output may contain a duplicate, null elements included
    for ((id, ps) <- out) assert(ps.distinct.size == ps.size, s"id $id")
  }

  test("q_winnow equals the reference winnow (w = 8) over the corpus") {
    val got = SparkEntry.queries("q_winnow")(spark, sfDir).collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"), r.getAs[Long]("fp")))
    val want = gramHashes.collect().toSeq.flatMap { r =>
      ref(r.getSeq[Long](1).map(java.lang.Long.valueOf), 8)
        .map { case (pos, fp) => (r.getLong(0), pos.toLong, fp) }
    }.sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got == want)
  }

  test("substring winnow: native fp set equals the portable HOF fold") {
    GraftFunctions.ensure(spark)
    // q_substring_dedup's kgram table and both winnow forms (SubK = 8, SubW = 4)
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .where(expr("size(toks) >= 8"))
      .select(col("doc_id"), expr("transform(sequence(1, size(toks) - 7)," +
        " i -> md5prefix64(concat_ws(' ', slice(toks, i, 8))))").as("khs"))
      .select(col("doc_id"),
        expr("array_distinct(transform(winnow_pairs(khs, 4), p -> p.fp))").as("native"),
        expr("array_distinct(transform(sequence(1, greatest(size(khs) - 3, 1))," +
          " w -> array_min(slice(khs, w, 4))))").as("hof"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
  }

  test("winnow_pairs stays inside whole-stage codegen") {
    GraftFunctions.ensure(spark)
    // a codegen-able array<bigint> child (HOFs would drop the whole
    // projection out of WSC regardless of this expression)
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr("winnow_pairs(sequence(doc_id, doc_id + 9), 4)").as("wp"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [winnow_pairs"), plan.take(2000))
  }

  test("arity and type validation fail analysis with clear messages") {
    GraftFunctions.ensure(spark)
    val df = Seq(Tuple1(Array(1L, 2L))).toDF("hs")
    val e1 = intercept[Exception](df.select(expr("winnow_pairs(hs)")).collect())
    assert(e1.getMessage.contains("2 arguments"), e1.getMessage)
    val e2 = intercept[Exception](
      Seq(Tuple1("x")).toDF("x").select(expr("winnow_pairs(x, 4)")).collect())
    assert(e2.getMessage != null)
    val e3 = intercept[Exception](df.select(expr("winnow_pairs(hs, 0)")).collect())
    assert(e3.getMessage != null)
  }

  test("winnow_pairs window: any foldable integral is accepted; a column fails analysis naming the function") {
    GraftFunctions.ensure(spark)
    val df = Seq(Tuple1(Array(5L, 3L, 9L, 3L, 7L)), Tuple1(Array(1L))).toDF("hs")
    val want = df.select(expr("winnow_pairs(hs, 2)")).collect().toSeq
    assert(df.select(expr("winnow_pairs(hs, 2L)")).collect().toSeq == want)
    assert(df.select(expr("winnow_pairs(hs, CAST(2 AS SMALLINT))")).collect().toSeq == want)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      df.withColumn("k", lit(2)).select(expr("winnow_pairs(hs, k)")).collect())
    assert(e.getMessage.contains("`winnow_pairs`"), e.getMessage)
  }
}
