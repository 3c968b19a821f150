package perfbench

import graft.kernel.{Chunker, Extract, ExtractMode, HtmlExtract, PdfLayout}
import graft.model.{Doc, SpanKinds}
import graft.pipeline.{Checkpoint, ExtractJob}
import graft.sources.DocSynth
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import perfbench.Harness._
import scala.util.hashing.MurmurHash3

/** `extract`: ExtractMain's path — the resumable, group-committed semantic
  * extraction into a fresh parquet outDir, then the lineage summary
  * ExtractMain prints. One operation = one whole run over the input.
  */
object ExtractBench extends Measured {
  val Groups = 8
  val Cfg: ExtractJob.Config = ExtractJob.Config(mode = ExtractMode.SemanticMode)

  final case class Summary(docs: Long, spans: Long, failures: Long)

  private def docs(ctx: Ctx): Dataset[Doc] = DocSynth.docs(ctx.spark, ctx.input("extract"))

  /** One timed operation: the run plus its lineage summary. */
  private def runOnce(ctx: Ctx, docs: Dataset[Doc], writer: Checkpoint.SpanWriter,
      outDir: String): Summary = {
    Checkpoint.runResumable(docs, writer, Cfg, Groups, Int.MaxValue)
    val r = Checkpoint.readLineage(ctx.spark, outDir)
      .groupBy().sum("docs_parsed", "spans_emitted", "parse_failures").collect()(0)
    Summary(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def parquetRun(ctx: Ctx, docs: Dataset[Doc], outDir: String): Summary =
    runOnce(ctx, docs, new Checkpoint.ParquetSpanWriter(ctx.spark, outDir), outDir)

  /** Input rows as the program reads them: (doc_id as string, text). */
  private def inputRows(ctx: Ctx): Array[(String, String)] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(s"${ctx.input("extract")}/documents.parquet")
      .select($"doc_id".cast("string"), $"text").as[(String, String)].collect()
  }

  /** Order-independent hash of a doc set: wrapping sum of per-doc hashes. */
  def docHash(d: Doc): Long = {
    val canon = d.spans.map(s => s"${s.kind}\u0001${s.text}\u0001${s.media_ref}\u0001${s.offset}")
      .mkString(d.doc_id + "\u0002", "\u0002", "")
    (MurmurHash3.stringHash(canon, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(canon, 0x0ddba11).toLong & 0xffffffffL)
  }

  private def committedHash(spark: SparkSession, outDir: String): (Long, Long) = {
    import spark.implicits._
    Checkpoint.readSpans(spark, outDir).as[Doc].rdd
      .map(d => (1L, docHash(d))).fold((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
  }

  private def expectedHash(rows: Array[(String, String)]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map { case (id, t) =>
      docHash(Extract.extractDoc(DocSynth.synthDoc(id, t), Cfg.mode))
    }.sum)

  override def warmup(ctx: Ctx): Unit = {
    val out = ctx.scratch("extract-warmup")
    parquetRun(ctx, docs(ctx), out)
    deleteTree(java.nio.file.Paths.get(out))
  }

  override def measure(ctx: Ctx): Samples = {
    val s = new Samples
    val rows = inputRows(ctx)
    val n = rows.length.toLong
    s.itemsPerOp = n
    val ds = docs(ctx)
    for (_ <- 1 to UntimedOps) warmup(ctx)
    var lastOut = ""
    loop(ctx.seconds) { i =>
      if (lastOut.nonEmpty) deleteTree(java.nio.file.Paths.get(lastOut))
      val out = ctx.scratch(s"extract-out-$i")
      var sum = Summary(0, 0, 0)
      s.attempted += n
      // a run that throws loses every doc of it
      if (s.time { sum = parquetRun(ctx, ds, out) }) s.failed += sum.failures + math.abs(n - sum.docs)
      else s.failed += n
      lastOut = out
    }
    // output check (outside the timed region), on the last committed run;
    // extraction is deterministic, so a wrong run means every run is wrong
    val got = scala.util.Try(committedHash(ctx.spark, lastOut))
    val want = expectedHash(rows)
    s.check("extract.span_hash", got.toOption.contains(want), s.attempted - s.failed,
      s"committed (docs, hash) $got vs single-thread kernel $want")
    deleteTree(java.nio.file.Paths.get(lastOut))
    s
  }

  /** Decorates a writer with one span per seam call; samples the bytes of
    * cached RDD blocks when a group's data is durable (the tagged stage is
    * still persisted then).
    */
  private final class TimingWriter(tracer: Tracer, spark: SparkSession, inner: Checkpoint.SpanWriter)
      extends Checkpoint.SpanWriter {
    var cachedBytesMax = 0L
    override def doneGroups(): Set[Long] = tracer.span("pipeline.done_groups")(inner.doneGroups())
    override def overwriteGroup(grp: Long, spans: DataFrame): Unit =
      tracer.span("pipeline.overwrite_group")(inner.overwriteGroup(grp, spans))
    override def commitGroup(grp: Long, lineage: DataFrame): Unit = {
      val cached = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      cachedBytesMax = math.max(cachedBytesMax, cached)
      tracer.span("pipeline.commit_group")(inner.commitGroup(grp, lineage))
    }
  }

  override def trace(ctx: Ctx, tracer: Tracer, overhead: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val rows = inputRows(ctx)
    val n = rows.length

    // sources + kernel: single-thread calls on the extract input, each
    // function warmed on a slice first so the JIT has compiled it
    def perCallUs[A](name: String, xs: IndexedSeq[A])(f: A => Any): Double = {
      xs.take(2000).foreach(f)
      tracer.span(name) { xs.foreach(f); tracer.annotate("calls", xs.length) }
      tracer.last(name).seconds * 1e6 / math.max(xs.length, 1)
    }
    val synthUs = perCallUs("sources.synth_doc", rows.toIndexedSeq) { case (id, t) => DocSynth.synthDoc(id, t) }
    val synthed = rows.map { case (id, t) => DocSynth.synthDoc(id, t) }.toIndexedSeq
    var outSpans = 0L
    val semUs = perCallUs("kernel.extract_doc.semantic", synthed)(Extract.extractDoc(_, ExtractMode.SemanticMode))
    synthed.foreach(d => outSpans += Extract.extractDoc(d, ExtractMode.SemanticMode).spans.length)
    val chunkUs = perCallUs("kernel.extract_doc.chunk", synthed)(Extract.extractDoc(_, ExtractMode.ChunkMode))
    def spanTexts(kinds: Set[String]) = synthed.flatMap(_.spans.filter(s => kinds(s.kind)).map(_.text))
    val htmlUs = perCallUs("kernel.html_blocks", spanTexts(Set(SpanKinds.Html)))(HtmlExtract.extractBlocks)
    val pdfUs = perCallUs("kernel.pdf_layout", spanTexts(Set(SpanKinds.PdfLayout)))(PdfLayout.readingOrderText)
    val chunkTextUs = perCallUs("kernel.chunk_text",
      spanTexts(Set(SpanKinds.Text, SpanKinds.PdfPage)))(Chunker.chunkText(_))
    val inputTextBytes = synthed.iterator.flatMap(_.spans).map(_.text.getBytes("UTF-8").length.toLong).sum

    // pipeline: a traced run (between two untraced ones for the overhead:
    // runs still speed up while the JIT works, so one before and one after),
    // then the extraction stage alone to a noop sink on the same docs
    val ds = docs(ctx)
    def untracedRun(): Double = {
      val u = ctx.scratch("extract-trace-u")
      try timed(parquetRun(ctx, ds, u)) finally deleteTree(java.nio.file.Paths.get(u))
    }
    val before = if (overhead) untracedRun() else 0.0
    val outDir = ctx.scratch("extract-trace")
    val writer = new TimingWriter(tracer, spark, new Checkpoint.ParquetSpanWriter(spark, outDir))
    val traced = timed(tracer.span("pipeline.run_resumable")(runOnce(ctx, ds, writer, outDir)))
    val after = if (overhead) untracedRun() else 0.0
    val run = tracer.last("pipeline.run_resumable")
    val kids = tracer.spans.filter(_.parent == run.id)
    def total(name: String) = kids.filter(_.name == name).map(_.seconds).sum
    val c = tracer.counters(run)
    val outputBytes = duBytes(outDir)
    deleteTree(java.nio.file.Paths.get(outDir))
    tracer.span("pipeline.extract_stage")(force(ExtractJob.extractWithLineage(ds, Cfg)._1.toDF()))

    val m = Map(
      "sources.synth_doc_us" -> synthUs,
      "kernel.extract_doc_us.semantic" -> semUs,
      "kernel.extract_doc_us.chunk" -> chunkUs,
      "kernel.html_blocks_us" -> htmlUs,
      "kernel.pdf_layout_us" -> pdfUs,
      "kernel.chunk_text_us" -> chunkTextUs,
      "kernel.spans_per_doc" -> outSpans.toDouble / n,
      "pipeline.done_groups_s" -> total("pipeline.done_groups"),
      "pipeline.overwrite_group_s" -> total("pipeline.overwrite_group"),
      "pipeline.commit_group_s" -> total("pipeline.commit_group"),
      "pipeline.extract_stage_s" -> tracer.last("pipeline.extract_stage").seconds,
      "pipeline.scan_rows_per_input_row" -> c.recordsRead.toDouble / n,
      "pipeline.shuffle_bytes" -> c.shuffleWriteBytes.toDouble,
      "pipeline.spill_bytes" -> c.spillBytes.toDouble,
      "pipeline.task_skew" -> c.taskSkew,
      "pipeline.cached_bytes" -> writer.cachedBytesMax.toDouble,
      "pipeline.output_bytes" -> outputBytes.toDouble,
      "extract.write_amp" -> outputBytes.toDouble / inputTextBytes)
    if (overhead) m + ("trace.overhead_s" -> (traced - (before + after) / 2)) else m
  }
}
