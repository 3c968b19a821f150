package graft.pipeline

import graft.SparkTestBase
import graft.kernel.{Extract, ExtractMode}
import graft.model.{Doc, Lineage, Span}
import graft.sources.DocSynth
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def collectSorted(ds: org.apache.spark.sql.Dataset[Doc]): Seq[Doc] =
    ds.collect().sortBy(_.doc_id).toSeq

  private def spansOf(docs: org.apache.spark.sql.Dataset[Doc],
      cfg: ExtractJob.Config = ExtractJob.Config()): org.apache.spark.sql.Dataset[Doc] =
    ExtractJob.extractWithLineage(docs, cfg)._1

  test("extraction is deterministic across partitionings (2 vs 8)") {
    val docs = DocSynth.docs(spark, sfDir)
    val a = collectSorted(spansOf(docs.repartition(2)))
    val b = collectSorted(spansOf(docs.repartition(8)))
    assert(a.nonEmpty && a == b)
  }

  test("output span invariants: offsets sequential, media refs preserved, chunks <= 500") {
    val docs = DocSynth.docs(spark, sfDir)
    val out = spansOf(docs).collect()
    assert(out.length == 500) // sf0.001 documents row count
    for (d <- out) {
      assert(d.spans.map(_.offset) == d.spans.indices)
      assert(d.spans.forall(s => s.kind == "chunk" || s.kind == "media"))
      assert(d.spans.filter(_.kind == "chunk").forall(s => s.text.nonEmpty && s.text.codePointCount(0, s.text.length) <= 500))
      assert(d.spans.filter(_.kind == "media").forall(_.media_ref.startsWith("media://")))
    }
  }

  test("semantic mode: html boilerplate stripped, headings emitted, layout reordered") {
    val html = Doc("h1", Seq(Span("html",
      "<html><body><nav><a href='/'>home</a></nav><h1>Title Here</h1>" +
        "<p>" + ("real content words here ok fine " * 10) + "</p>" +
        "<footer><a href='/t'>terms</a></footer></body></html>", "", 0)))
    val layout = Doc("p1", Seq(Span("pdf_layout",
      "50\t10\tleft one\n50\t22\tleft two\n320\t10\tright one\n320\t22\tright two", "", 0)))
    val out = spansOf(spark.createDataset(Seq(html, layout)),
      ExtractJob.Config(mode = ExtractMode.SemanticMode)).collect().sortBy(_.doc_id)
    val hSpans = out.find(_.doc_id == "h1").get.spans
    assert(hSpans.exists(s => s.kind == "heading" && s.text == "Title Here"))
    assert(hSpans.filter(_.kind == "chunk").forall(s => !s.text.contains("home") && !s.text.contains("terms")))
    val pSpans = out.find(_.doc_id == "p1").get.spans
    assert(pSpans.map(_.text).mkString == "left one\nleft two\n\nright one\nright two")
  }

  test("replicated corpus: every replica is a distinct deterministic doc") {
    val out = spansOf(DocSynth.docs(spark, sfDir, replicate = 3)).collect()
    assert(out.length == 1500)
    assert(out.map(_.doc_id).distinct.length == 1500)
  }

  test("lineage: docs_parsed sums to input count, zero failures, spans consistent") {
    val docs = DocSynth.docs(spark, sfDir)
    val (spans, lineage) = ExtractJob.extractWithLineage(docs)
    val lin = lineage.collect()
    assert(lin.map(_.docs_parsed).sum == 500)
    assert(lin.map(_.parse_failures).sum == 0)
    val totalSpans = spans.collect().map(_.spans.size.toLong).sum
    assert(lin.map(_.spans_emitted).sum == totalSpans)
  }

  test("skew: giant docs spread across partitions (targeted salt exchange)") {
    import org.apache.spark.sql.functions._
    // replicate enough that several giant docs (1/97 of ids) exist; the
    // round-robin spread of DocSynth.docs is the only spread they get
    val out = spansOf(DocSynth.docs(spark, sfDir, replicate = 4))
    val byPart = out.toDF()
      .select(spark_partition_id().as("pid"),
        aggregate(col("spans"), lit(0L), (acc, s) => acc + length(s.getField("text"))).as("chars"))
      .groupBy("pid").agg(sum("chars").as("chars"), count(lit(1)).as("docs"))
      .collect()
    assert(byPart.length == spark.sparkContext.defaultParallelism)
    val loads = byPart.map(r => r.getAs[Long]("chars").toDouble)
    // giants are ~40x normal docs; if they piled up, one partition would
    // carry multiples of the mean. The spread keeps max within 3x the mean.
    assert(loads.max < loads.sum / loads.length * 3.0,
      s"skewed partition loads: ${loads.sorted.reverse.take(3).mkString(",")} vs mean ${loads.sum / loads.length}")
  }

  test("curation staging: marker-after-data commit; resume never re-reads the input") {
    import graft.operators.DedupOps
    val stage = Files.createTempDirectory("graft-curate-stage").toString
    val (c1, f1) = DedupOps.curationRunStaged(spark, sfDir, stage)
    val curated1 = c1.collect().map(_.toSeq).toSeq
    val funnel1 = f1.collect().map(_.toSeq).toSeq
    assert(curated1.nonEmpty && funnel1.length == 6)
    // the staged form is bit-identical to the in-query form of the registry
    // queries, which run the same verdicts -> curated / funnel code
    val c0 = graft.SparkEntry.queries("q_curation_pipeline")(spark, sfDir)
    val f0 = graft.SparkEntry.queries("q_curation_funnel")(spark, sfDir)
    assert(curated1 == c0.collect().map(_.toSeq).toSeq)
    assert(funnel1 == f0.collect().map(_.toSeq).toSeq)
    // resume with the marker present: the input dir is gone, so identical
    // output PROVES everything came from the durable stage
    val (c2, f2) = DedupOps.curationRunStaged(spark, "/nonexistent-input-dir", stage)
    assert(c2.collect().map(_.toSeq).toSeq == curated1)
    assert(f2.collect().map(_.toSeq).toSeq == funnel1)
    // crash BEFORE the marker landed (a partial gen-N, no marker): the
    // stage is ignored and rewritten from the input
    val fs = new org.apache.hadoop.fs.Path(stage).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stage/features"), true)
    val partial = docFeaturesPartial(stage) // half-written stage data, as a crash leaves it
    val (c3, f3) = DedupOps.curationRunStaged(spark, sfDir, stage)
    assert(c3.collect().map(_.toSeq).toSeq == curated1)
    assert(f3.collect().map(_.toSeq).toSeq == funnel1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(partial)), "crashed generation not swept")
  }

  /** Simulate a feature-stage crash: some rows durable in the stage's first
    * generation, no commit marker. Returns that generation's directory.
    */
  private def docFeaturesPartial(stage: String): String = {
    val gen = s"$stage/features/gen-00000001"
    graft.operators.DedupOps.docFeatures(spark, sfDir).limit(7).write.parquet(gen)
    gen
  }

  test("curation staging: a visibly CHANGED input invalidates the stage (no stale serve)") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val stage = Files.createTempDirectory("graft-curate-stale").toString
    val inDir = Files.createTempDirectory("graft-curate-input").toString
    // v1 input: the full documents table, copied so it can be replaced
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$inDir/documents.parquet")
    val (c1, _) = DedupOps.curationRunStaged(spark, inDir, stage)
    val v1 = c1.count()
    // v2 input: the corpus visibly changes (halved) at the same path
    spark.read.parquet(s"$sfDir/documents.parquet").where(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$inDir/documents.parquet")
    val (c2, _) = DedupOps.curationRunStaged(spark, inDir, stage)
    val v2 = c2.count()
    assert(v2 < v1, s"stage served stale v1 features for the v2 input (v1=$v1 v2=$v2)")
    // and the v2 stage is itself stable on an unchanged re-run
    val (c3, _) = DedupOps.curationRunStaged(spark, inDir, stage)
    assert(c3.count() == v2)
  }

  test("curation staging: a changed file nested in a partitioned input rebuilds the stage") {
    import graft.operators.DedupOps
    import org.apache.spark.sql.functions.col
    val stage = Files.createTempDirectory("graft-curate-nested").toString
    val inDir = Files.createTempDirectory("graft-curate-parts").toString
    val docsPath = s"$inDir/documents.parquet"
    spark.read.parquet(s"$sfDir/documents.parquet").withColumn("half", col("doc_id") % 2)
      .write.partitionBy("half").parquet(docsPath)
    val (c1, _) = DedupOps.curationRunStaged(spark, inDir, stage)
    val v1 = c1.count()
    val gen1 = VersionedTable.resolve(spark, s"$stage/features")
    // only the files under half=1 change: that half shrinks
    spark.read.parquet(s"$sfDir/documents.parquet").where(col("doc_id") % 4 === 1)
      .write.mode("overwrite").parquet(s"$docsPath/half=1")
    val (c2, _) = DedupOps.curationRunStaged(spark, inDir, stage)
    assert(VersionedTable.resolve(spark, s"$stage/features") != gen1, "stage not rebuilt")
    assert(c2.count() < v1)
    // unchanged input: the rebuilt stage is reused
    val gen2 = VersionedTable.resolve(spark, s"$stage/features")
    DedupOps.curationRunStaged(spark, inDir, stage)
    assert(VersionedTable.resolve(spark, s"$stage/features") == gen2)
  }

  test("paragraph mode: spans are kernel extract_paragraphs outputs in order") {
    import graft.kernel.{ExtractMode, Paragraphs}
    val docs = DocSynth.docs(spark, sfDir)
    val out = spansOf(docs, ExtractJob.Config(mode = ExtractMode.ParagraphMode))
      .collect().sortBy(_.doc_id)
    val in = docs.collect().sortBy(_.doc_id)
    assert(out.nonEmpty && out.length == in.length)
    for ((i, o) <- in.zip(out)) {
      val expected = i.spans.sortBy(_.offset).flatMap { s =>
        if (s.kind == "image" || s.kind == "figure" || s.kind == "table") Seq(("media", "", s.media_ref))
        else Paragraphs.extractParagraphs(s.text).map(p => ("paragraph", p, ""))
      }
      assert(o.spans.map(s => (s.kind, s.text, s.media_ref)) == expected, s"doc ${i.doc_id}")
    }
  }

  test("observe(): live ingest counters surface docs/spans totals") {
    val (spans, _) = ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir))
    val observed = spans.toDF().observe("ingest",
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("docs"),
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("spans"))).as("spans"))
    observed.collect() // run through THIS Dataset's queryExecution (write would spawn a new one)
    val row = observed.queryExecution.observedMetrics("ingest")
    assert(row.getAs[Long]("docs") == 500L)
    assert(row.getAs[Long]("spans") > 500L)
  }

  test("resume: empty groups are durably marked done (marker row commits them)") {
    // 1 doc across 8 groups -> 7 empty groups; without the lineage marker row
    // every resume would re-run the empties forever.
    val one = DocSynth.docs(spark, sfDir).limit(1)
    val dir = Files.createTempDirectory("graft-resume-empty").toString
    assert(Checkpoint.runResumable(one, dir, numGroups = 8) == 8)
    assert(Checkpoint.runResumable(one, dir, numGroups = 8) == 0) // nothing re-runs
    assert(Checkpoint.readLineage(spark, dir).select("grp").distinct().count() == 8)
    // real metrics are unaffected by markers
    val real = Checkpoint.readLineage(spark, dir).where($"status" === "complete")
    assert(real.agg(org.apache.spark.sql.functions.sum($"docs_parsed")).head.getLong(0) == 1L)
  }

  test("resume: a NULL-text input row commits as a zero-span doc, never aborts the run") {
    val in = Files.createTempDirectory("graft-null-text").toString
    Seq((1L, Some("real content words here ok fine " * 20)), (2L, None), (3L, Some("short row")))
      .toDF("doc_id", "text").write.parquet(s"$in/documents.parquet")
    val dir = Files.createTempDirectory("graft-null-out").toString
    assert(Checkpoint.runResumable(DocSynth.docs(spark, in), dir, numGroups = 4) == 4)
    val out = Checkpoint.readSpans(spark, dir).as[Doc].collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq == Seq("1", "2", "3"))
    assert(out(1).spans.isEmpty && out(0).spans.nonEmpty && out(2).spans.nonEmpty)
    val real = Checkpoint.readLineage(spark, dir).where($"status" === "complete")
      .agg(org.apache.spark.sql.functions.sum($"docs_parsed"),
        org.apache.spark.sql.functions.sum($"parse_failures")).head
    assert(real.getLong(0) == 3L && real.getLong(1) == 0L)
  }

  test("a doc whose kernel call throws commits as an empty doc and counts one parse failure") {
    // a NULL span array makes the kernel itself throw, unlike a NULL text
    val ok = Doc("ok", Seq(Span("text", "real content words here ok fine " * 20, "", 0)))
    val bad = Doc("bad", null)
    val dir = Files.createTempDirectory("graft-kernel-throws").toString
    assert(Checkpoint.runResumable(spark.createDataset(Seq(ok, bad)), dir, numGroups = 4) == 4)
    val out = Checkpoint.readSpans(spark, dir).as[Doc].collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq == Seq("bad", "ok"))
    assert(out(0).spans.isEmpty && out(1).spans.nonEmpty)
    val real = Checkpoint.readLineage(spark, dir).where($"status" === "complete")
      .agg(org.apache.spark.sql.functions.sum($"docs_parsed"),
        org.apache.spark.sql.functions.sum($"parse_failures")).head
    assert(real.getLong(0) == 2L && real.getLong(1) == 1L)
    // the other entry point counts the doc once, as parsed and as failed
    val (spans, lineage) = ExtractJob.extractWithLineage(spark.createDataset(Seq(bad)))
    val lin = lineage.collect()
    assert(lin.map(_.docs_parsed).sum == 1L && lin.map(_.parse_failures).sum == 1L)
    assert(lin.map(_.spans_emitted).sum == 0L)
    assert(spans.collect().toSeq == Seq(Doc("bad", Nil)))
  }

  test("resume: kill after 3 groups -> re-run converges to single-shot output") {
    val docs = DocSynth.docs(spark, sfDir)
    val dirA = Files.createTempDirectory("graft-resume-a").toString
    val dirB = Files.createTempDirectory("graft-resume-b").toString

    // simulated kill: only 3 of 8 groups commit
    val first = Checkpoint.runResumable(docs, dirA, numGroups = 8, maxGroups = 3)
    assert(first == 3)
    // resume: finishes the remaining 5, skips the done 3
    val second = Checkpoint.runResumable(docs, dirA, numGroups = 8)
    assert(second == 5)
    // re-run again: nothing to do (idempotent)
    assert(Checkpoint.runResumable(docs, dirA, numGroups = 8) == 0)

    // single-shot reference run
    Checkpoint.runResumable(docs, dirB, numGroups = 8)

    val a = Checkpoint.readSpans(spark, dirA).as[Doc].collect().sortBy(_.doc_id).toSeq
    val b = Checkpoint.readSpans(spark, dirB).as[Doc].collect().sortBy(_.doc_id).toSeq
    assert(a == b)
    assert(a.map(_.doc_id).distinct.size == 500) // no duplicates: MERGE semantics
    assert(Checkpoint.readLineage(spark, dirA).select("grp").distinct().count() == 8)
  }

  test("runResumable synthesises each input doc once per run, not once per group") {
    val synthesised = spark.sparkContext.longAccumulator("synthesised")
    val docs = DocSynth.docs(spark, sfDir).map { d => synthesised.add(1); d }
    val dir = Files.createTempDirectory("graft-resume-once").toString
    assert(Checkpoint.runResumable(docs, dir, numGroups = 8) == 8)
    assert(synthesised.value == 500L)
  }

  /** A writer on the trait's default loops: per-group writes and commits. */
  private class PerGroupWriter(dir: String) extends Checkpoint.SpanWriter {
    protected val inner = new Checkpoint.ParquetSpanWriter(spark, dir)
    def doneGroups(): Set[Long] = inner.doneGroups()
    def overwriteGroup(grp: Long, spans: DataFrame): Unit = inner.overwriteGroup(grp, spans)
    def commitGroup(grp: Long, lineage: DataFrame): Unit = inner.commitGroup(grp, lineage)
  }

  /** A batch writer that evaluates the spans to the end once before its
    * real write, as a writer that validates or counts its input first may.
    */
  private def twiceWriter(dir: String, between: () => Unit): Checkpoint.SpanWriter =
    new PerGroupWriter(dir) {
      override def overwriteGroups(grps: Seq[Long], spans: DataFrame): Unit = {
        spans.foreach(_ => ())
        between()
        inner.overwriteGroups(grps, spans)
      }
      override def commitGroups(grps: Seq[Long], lineage: DataFrame): Unit =
        inner.commitGroups(grps, lineage)
    }

  private def lineageRows(dir: String): Seq[Row] =
    Checkpoint.readLineage(spark, dir).orderBy("grp", "partition_id").collect().toSeq

  test("a writer on the per-group loop commits the same lineage, synthesising each doc once") {
    val synthesised = spark.sparkContext.longAccumulator("synthesised")
    val docs = DocSynth.docs(spark, sfDir).map { d => synthesised.add(1); d }
    val batch = Files.createTempDirectory("graft-loop-batch").toString
    val looped = Files.createTempDirectory("graft-loop-groups").toString
    assert(Checkpoint.runResumable(docs, batch, numGroups = 8) == 8)
    synthesised.reset()
    assert(Checkpoint.runResumable(docs, new PerGroupWriter(looped), ExtractJob.Config(), 8,
      Int.MaxValue) == 8)
    assert(synthesised.value == 500L)
    assert(lineageRows(looped).nonEmpty && lineageRows(looped) == lineageRows(batch))
    assert(Checkpoint.readSpans(spark, looped).as[Doc].collect().sortBy(_.doc_id).toSeq ==
      Checkpoint.readSpans(spark, batch).as[Doc].collect().sortBy(_.doc_id).toSeq)
  }

  test("lineage fold: equal entries count once, differing ones fail the run before its commit") {
    val (a, b) = (Lineage(0, 3L, 9L, 0L, "complete"), Lineage(1, 2L, 4L, 1L, "complete"))
    assert(Checkpoint.foldLineage(Seq((7L, b), (5L, a), (7L, a), (5L, a), (7L, b))) ==
      Seq((5L, a), (7L, a), (7L, b)))
    intercept[IllegalStateException](
      Checkpoint.foldLineage(Seq((5L, a), (5L, a.copy(spans_emitted = 10L)))))
    val docs = DocSynth.docs(spark, sfDir)
    // a writer that runs the kernel twice commits the one-pass lineage
    val once = Files.createTempDirectory("graft-fold-once").toString
    val twice = Files.createTempDirectory("graft-fold-twice").toString
    assert(Checkpoint.runResumable(docs, once, numGroups = 8) == 8)
    assert(Checkpoint.runResumable(docs, twiceWriter(twice, () => ()), ExtractJob.Config(), 8,
      Int.MaxValue) == 8)
    assert(lineageRows(twice) == lineageRows(once))
    // input that changes between the two evaluations: the run throws after
    // the data write and commits no group
    val changed = Files.createTempDirectory("graft-fold-changed").toString
    val flipping = docs.map(d => if (PipelineSpec.secondPass.get) Doc(d.doc_id, Nil) else d)
    try {
      val e = intercept[IllegalStateException](Checkpoint.runResumable(flipping,
        twiceWriter(changed, () => PipelineSpec.secondPass.set(true)), ExtractJob.Config(), 8,
        Int.MaxValue))
      assert(e.getMessage.contains("differing lineage"), e.getMessage)
    } finally PipelineSpec.secondPass.set(false)
    assert(new Checkpoint.ParquetSpanWriter(spark, changed).doneGroups().isEmpty)
    assert(Checkpoint.readLineage(spark, changed).count() == 0L)
  }

  test("a run commits every group's lineage in one file") {
    import org.apache.spark.sql.functions.{spark_partition_id, struct}
    val docs = DocSynth.docs(spark, sfDir)
    def lineageFiles(dir: String): Seq[String] =
      new java.io.File(VersionedTable.manifestDir(tip(dir))).listFiles().map(_.getName).toSeq
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    val dir = Files.createTempDirectory("graft-resume-lineage").toString
    assert(Checkpoint.runResumable(docs, dir, numGroups = 8) == 8)
    assert(lineageFiles(dir).length == 1, lineageFiles(dir).mkString(", "))
    // the expected rows, from each input doc's group and partition with the
    // kernel run on the driver: one per (group, kernel partition) that holds
    // docs, plus the group's marker
    val perDoc = docs.select(Checkpoint.groupOf(8), spark_partition_id(),
        struct(docs.columns.toSeq.map(docs.col): _*))
      .as[(Long, Int, Doc)].collect().map { case (g, pid, d) =>
        val (spans, failed) =
          try (Extract.extractDoc(d, ExtractMode.ChunkMode).spans.size, false)
          catch { case scala.util.control.NonFatal(_) => (0, true) }
        (g, pid, spans, failed)
      }
    val marker = Lineage(-1, 0L, 0L, 0L, "marker")
    for (g <- 0L until 8L) {
      val want = perDoc.filter(_._1 == g).groupBy(_._2).map { case (pid, rows) =>
        Lineage(pid, rows.length.toLong, rows.map(_._3.toLong).sum, rows.count(_._4).toLong, "complete")
      }.toSeq :+ marker
      val got = Checkpoint.readLineage(spark, dir).where($"grp" === g).drop("grp")
        .as[Lineage].collect()
      assert(got.sortBy(_.partition_id).toSeq == want.sortBy(_.partition_id).toSeq, s"group $g")
    }
    // a killed run and its resume: one file per run
    val resumed = Files.createTempDirectory("graft-resume-lineage-2").toString
    assert(Checkpoint.runResumable(docs, resumed, numGroups = 8, maxGroups = 3) == 3)
    assert(Checkpoint.runResumable(docs, resumed, numGroups = 8) == 5)
    assert(lineageFiles(resumed).length == 2, lineageFiles(resumed).mkString(", "))
    assert(Checkpoint.readLineage(spark, resumed).where($"status" === "marker").count() == 8)
  }

  /** Three jobs: the round-robin map stage of `DocSynth.docs`, the spans
    * write (which runs the kernel) and the manifest append. A cache or a
    * lineage pass of its own would add jobs.
    */
  test("a fresh run starts as many Spark jobs at 2 groups as at 8") {
    val docs = DocSynth.docs(spark, sfDir)
    def jobsOf(numGroups: Int): Int = {
      val dir = Files.createTempDirectory(s"graft-jobs-$numGroups").toString
      val (done, jobs) = jobsDuring(Checkpoint.runResumable(docs, dir, numGroups = numGroups))
      assert(done == numGroups)
      jobs
    }
    val (two, eight) = (jobsOf(2), jobsOf(8))
    assert(two == 3 && eight == 3, s"jobs: $two at 2 groups, $eight at 8 groups")
  }

  test("runResumable rejects a non-positive group count before touching the output") {
    val docs = DocSynth.docs(spark, sfDir)
    val dir = Files.createTempDirectory("graft-resume-zero").toString
    for (n <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException](Checkpoint.runResumable(docs, dir, numGroups = n))
      assert(e.getMessage.contains(s"got $n"), e.getMessage)
    }
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("ExtractMain parses the three mode names and rejects any other") {
    assert(ExtractMain.parseMode("chunk") == ExtractMode.ChunkMode)
    assert(ExtractMain.parseMode("paragraph") == ExtractMode.ParagraphMode)
    assert(ExtractMain.parseMode("semantic") == ExtractMode.SemanticMode)
    for (bad <- Seq("semntic", "Semantic", "")) {
      val e = intercept[IllegalArgumentException](ExtractMain.parseMode(bad))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("chunk|paragraph|semantic"),
        e.getMessage)
    }
  }
}

object PipelineSpec {
  /** Flipped by a test writer between two evaluations of the same spans. */
  val secondPass = new java.util.concurrent.atomic.AtomicBoolean(false)
}
