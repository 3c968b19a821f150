package graft

import graft.operators.Tables
import graft.pipeline.ExportJob
import org.apache.spark.sql.functions.{col, lit}

/** Driver-contract smoke: entry() returns rows on sf0.001; every queries key
  * has either a DuckDB oracle or a documented rows-only rationale; all
  * oracle keys exist in queries; every query and the export assembly run on
  * a bare session (no `GraftExtensions`).
  */
class EntrySpec extends SparkTestBase {

  test("entry(): flagship extraction yields rows with the output span schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("doc_id", "kind", "text", "media_ref", "offset"))
    val n = df.count()
    assert(n > 500, s"expected >500 output spans, got $n")
  }

  test("queries/oracleSql key discipline") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys missing from queries: ${o diff q}")
    val rowsOnly = q diff o
    assert(rowsOnly.isEmpty, s"unexpected rows-only: $rowsOnly") // every query is fully oracled
  }

  test("every query runs non-empty on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sfDir).count()
        if (n == 0) Some(s"$name: empty") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("bare session: every query and ExportJob analyse without GraftExtensions; hashing runs md5prefix64") {
    // one fresh session per op (its own function registry, no extensions),
    // so one op's registration cannot hide another op's missing one
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark.newSession(), sfDir).queryExecution.analyzed; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
    val docs = Tables.documents(spark.newSession(), sfDir)
    val exported = ExportJob.assembleFrom(
      docs.select(col("doc_id"), lit("train").as("split")), docs, nShards = 4)
    assert(exported.queryExecution.executedPlan.toString.contains("md5prefix64"))
    val plan = SparkEntry.queries("q_split_stratified")(spark.newSession(), sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("md5prefix64") && !plan.contains("conv("), plan)
  }
}
