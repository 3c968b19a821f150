package graft.operators

import graft.SparkTestBase
import graft.kernel.Golden
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** The registry ops that run a `graft.kernel` rule (`q_chunk_fixed`,
  * `q_clean_text`, `q_date_normalize`, `q_paragraphs`, `q_paragraphize`)
  * over tables written for the case at hand: reference values the fixtures
  * never hold, and NULLs.
  */
class KernelOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** Runs `name` over a directory holding one table written from `df`. */
  private def run(name: String, table: String, df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-kernel-ops").toString
    df.write.parquet(s"$dir/$table.parquet")
    graft.SparkEntry.queries(name)(spark, dir)
  }

  private def orders(priorities: Seq[Option[String]]): DataFrame =
    priorities.zipWithIndex.map { case (p, i) => (i.toLong, java.sql.Date.valueOf("1995-03-15"), p) }
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")

  test("q_date_normalize: normalize_date.json's outputs, and signed or padded strings unchanged") {
    val golden = Golden.load("normalize_date.json").map(c => c.get("in").asText() -> c.get("out").asText())
    // the reference (Python strptime '%Y-%m-%d') returns each of these unchanged
    // (Python has no year 0); a year beyond ±290307 must not throw either
    val unchanged = Seq("-2024-01-01", "+12024-01-01", "+1000000-01-01", "-1000000-01-01",
      " 2024-01-01", "2024-01-01 ", "1-URGENT", "0000-01-01")
    val cases = golden ++ unchanged.map(s => s -> s) :+ ("2024-1-01" -> "2024-01-01T00:00:00")
    val got = run("q_date_normalize", "orders", orders(cases.map(c => Some(c._1))))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._3) == cases.map(_._2))
    assert(got.map(_._2).distinct == Seq("1995-03-15T00:00:00"))
  }

  test("a NULL text: the one-value kernel ops give NULL, the row ops give no rows") {
    val docs = Seq((7L, Option.empty[String])).toDF("doc_id", "text")
    for (name <- Seq("q_chunk_fixed", "q_paragraphs", "q_paragraphize"))
      assert(run(name, "documents", docs).collect().isEmpty, name)
    assert(run("q_clean_text", "documents", docs).as[(Long, Option[String])].collect().toSeq ==
      Seq(7L -> None))
    assert(run("q_date_normalize", "orders", orders(Seq(None))).as[(Long, String, Option[String])]
      .collect().toSeq == Seq((0L, "1995-03-15T00:00:00", None)))
  }
}
