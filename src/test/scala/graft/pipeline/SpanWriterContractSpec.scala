package graft.pipeline

import graft.SparkTestBase
import graft.model.{Doc, Lineage, Span}
import graft.pipeline.Checkpoint.SpanWriter
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** Behavioral contract for [[Checkpoint.SpanWriter]] implementations (the
  * Iceberg seam): any future writer — an actual Iceberg catalog, an object
  * store — must pass `violations(...) == Nil`. The round-3 verdict asked
  * for exactly this: a contract suite green on the parquet impl and RED on
  * a deliberately faulty one, proving the tests can fail.
  *
  * Clauses (from the SpanWriter scaladoc):
  *  1. `doneGroups` is empty before any commit;
  *  2. `overwriteGroup` alone must NOT mark a group done (commit-after-
  *     durable: the lineage append is the commit marker);
  *  3. re-running `overwriteGroup` REPLACES the group, never appends
  *     (idempotent overwrite — the resume path re-runs groups wholesale);
  *  4. `commitGroup` marks exactly that group done;
  *  5. `doneGroups` returns EXACTLY the committed set, and writing one
  *     group never disturbs another's data;
  *  6. an empty group committed with only the synthetic marker row is
  *     durably done (otherwise every resume re-runs it).
  */
class SpanWriterContractSpec extends SparkTestBase {
  import spark.implicits._

  private def doc(id: String) = Doc(id, Seq(Span("chunk", s"text of $id", "", 0)))

  private def spansDf(ids: String*): DataFrame =
    spark.createDataset(ids.map(doc)).toDF()

  private def lineageDf(docs: Long): DataFrame =
    spark.createDataset(Seq(Lineage(0, docs, docs, 0L, "complete"))).toDF()

  private def markerOnly: DataFrame =
    spark.createDataset(Seq(Lineage(-1, 0L, 0L, 0L, "marker"))).toDF()

  /** Runs the contract against a fresh writer; returns the violated
    * clauses. `readGroupDocs(g)` must return the doc_ids currently visible
    * in group g's span data through whatever read path the writer's storage
    * exposes.
    */
  private def violations(writer: SpanWriter, readGroupDocs: Long => Seq[String]): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    if (writer.doneGroups().nonEmpty)
      buf += "doneGroups nonempty before any commit"
    writer.overwriteGroup(1L, spansDf("a", "b"))
    if (writer.doneGroups().contains(1L))
      buf += "group reported done before commitGroup (commit must follow durable data)"
    writer.overwriteGroup(1L, spansDf("a", "b")) // crash-between-data-and-commit re-run
    if (readGroupDocs(1L).sorted != Seq("a", "b"))
      buf += "re-running overwriteGroup appended instead of replacing"
    writer.commitGroup(1L, lineageDf(2L))
    if (!writer.doneGroups().contains(1L))
      buf += "committed group not reported done"
    writer.overwriteGroup(2L, spansDf("c"))
    writer.commitGroup(2L, lineageDf(1L))
    if (writer.doneGroups() != Set(1L, 2L))
      buf += s"doneGroups is not exactly the committed set: ${writer.doneGroups()}"
    if (readGroupDocs(1L).sorted != Seq("a", "b"))
      buf += "writing group 2 disturbed group 1's data"
    writer.commitGroup(3L, markerOnly) // empty group: marker row only
    if (!writer.doneGroups().contains(3L))
      buf += "empty group with marker-only lineage not durably done"
    buf.toSeq
  }

  test("ParquetSpanWriter satisfies the full SpanWriter contract") {
    val out = Files.createTempDirectory("graft-spanwriter").toString
    val writer = new Checkpoint.ParquetSpanWriter(spark, out)
    def readGroupDocs(g: Long): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(Checkpoint.spansDir(out))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else spark.read.parquet(Checkpoint.spansDir(out))
        .where(org.apache.spark.sql.functions.col("grp") === g)
        .select("doc_id").as[String].collect().toSeq
    }
    val v = violations(writer, readGroupDocs)
    assert(v.isEmpty, s"contract violations: ${v.mkString("; ")}")
  }

  /** Faulty by design: overwriteGroup APPENDS — the bug a naive
    * SaveMode.Append implementation would have. The contract must flag it.
    */
  private final class AppendingWriter extends SpanWriter {
    val data = scala.collection.mutable.Map[Long, Vector[String]]().withDefaultValue(Vector())
    val committed = scala.collection.mutable.Set[Long]()
    override def doneGroups(): Set[Long] = committed.toSet
    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      data(grp) = data(grp) ++ spans.select("doc_id").as[String].collect()
    override def commitGroup(grp: Long, lineage: DataFrame): Unit = committed += grp
  }

  /** Faulty by design: reports a group done as soon as its DATA lands —
    * a crash between data and lineage would silently skip the group's
    * commit forever. The contract must flag it.
    */
  private final class EagerDoneWriter extends SpanWriter {
    val data = scala.collection.mutable.Map[Long, Vector[String]]()
    override def doneGroups(): Set[Long] = data.keySet.toSet
    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      data(grp) = spans.select("doc_id").as[String].collect().toVector
    override def commitGroup(grp: Long, lineage: DataFrame): Unit = ()
  }

  test("contract catches an appending (non-idempotent) writer") {
    val w = new AppendingWriter
    val v = violations(w, g => w.data(g))
    assert(v.exists(_.contains("appended instead of replacing")), v.mkString("; "))
  }

  test("contract catches a writer that reports done before commit") {
    val w = new EagerDoneWriter
    val v = violations(w, g => w.data.getOrElse(g, Vector()))
    assert(v.exists(_.contains("before commitGroup")), v.mkString("; "))
    assert(v.exists(_.contains("marker-only lineage not durably done")), v.mkString("; "))
  }
}
