package graft.sources

import graft.kernel.PyText
import graft.model.{Doc, Span, SpanKinds}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.hashing.MurmurHash3

/** Deterministic synthesizer of the `input_hint` table shape from the
  * driver-provided `documents.parquet` (doc_id:int64, text, lang, source,
  * n_chars). Pure function of (doc_id, text) — no RNG state, no time — so the
  * same input always yields the same interleaved doc, which the resume /
  * golden invariants require (FIXTURES.md §1, §5).
  *
  * Interleaving: docs are split into 1–4 page spans; ~1/7 of docs get one
  * page HTML-wrapped (with nav/footer boilerplate so SemanticMode has
  * something to strip), ~1/11 get a two-column pdf_layout encoding, ~1/5 get
  * a media span (image/figure/table) interleaved. A small fraction
  * (`pmod(xxhash64(doc_id), 97) == 0` — see `giantOf` below) is inflated
  * ~40x to create the skewed "giant doc" population the pipeline's input
  * spread must balance.
  */
object DocSynth {

  def hashOf(docId: String): Int = MurmurHash3.stringHash(docId)

  /** Giant-doc selection: `pmod(xxhash64(doc_id), 97) == 0`, the exact hash
    * Spark SQL's `xxhash64(col)` computes (seed 42).
    */
  def giantOf(docId: String): Boolean =
    math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(docId),
        org.apache.spark.sql.types.StringType, 42L), 97L) == 0L

  def synthDoc(docId: String, text: String): Doc = {
    val h = hashOf(docId)
    def pick(m: Int): Int = math.floorMod(h, m)

    val body = if (giantOf(docId)) {
      // giant skewed doc: deterministic inflation
      val sb = new java.lang.StringBuilder(text.length * 40 + 64)
      var i = 0
      while (i < 40) { sb.append(text).append(" #").append(i).append(' '); i += 1 }
      sb.toString
    } else text

    val n = PyText.len(body)
    val nPages = 1 + pick(4)
    val per = math.max(1, n / nPages)
    val pages = (0 until nPages).iterator.map { p =>
      PyText.slice(body, p * per, if (p == nPages - 1) n else (p + 1) * per)
    }.filter(_.nonEmpty).toVector

    val spans = Vector.newBuilder[Span]
    var off = 0
    def add(kind: String, t: String, ref: String): Unit = { spans += Span(kind, t, ref, off); off += 1 }

    pages.zipWithIndex.foreach { case (pg, i) =>
      val kindSel = math.floorMod(h + i, 21)
      if (kindSel < 3) { // html page with boilerplate
        add(SpanKinds.Html,
          s"<html><body><nav><a href='/'>home</a> <a href='/x'>links</a></nav>" +
            s"<h1>Doc $docId part $i</h1><p>$pg</p>" +
            s"<footer><a href='/tos'>terms</a> copyright</footer></body></html>", "")
      } else if (kindSel < 5) { // two-column positioned layout page
        val half = PyText.len(pg) / 2
        val colA = PyText.slice(pg, 0, half)
        val colB = PyText.slice(pg, half, PyText.len(pg))
        val enc = new java.lang.StringBuilder
        def emitCol(x: Int, t: String): Unit = {
          val lines = t.grouped(60).toVector
          lines.zipWithIndex.foreach { case (l, r) =>
            if (enc.length() > 0) enc.append('\n')
            enc.append(x).append('\t').append(10 + r * 12).append('\t').append(l)
          }
        }
        emitCol(50, colA); emitCol(320, colB)
        add(SpanKinds.PdfLayout, enc.toString, "")
      } else if (kindSel < 8) {
        add(SpanKinds.Text, pg, "")
      } else {
        add(SpanKinds.PdfPage, pg, "")
      }
      if (math.floorMod(h * 31 + i, 5) == 0) {
        val mk = Vector(SpanKinds.Image, SpanKinds.Figure, SpanKinds.Table)(math.floorMod(h + i, 3))
        add(mk, "", f"media://${(h.toLong & 0xffffffffL) * 1000 + i}%d")
      }
    }
    Doc(docId, spans.result())
  }

  /** documents.parquet -> Dataset[Doc] in the input_hint shape.
    *
    * `replicate` deterministically inflates the corpus (doc_id suffixed with
    * the replica index, so every replica synthesizes a *different* doc) —
    * used by the scaling bench to give a local[N] run enough work that task
    * scheduling overhead doesn't dominate. The *base* rows are spread
    * round-robin across defaultParallelism partitions BEFORE the replicate
    * explode and the synth map: the testdata is one small parquet split, so
    * synthesizing on the scan side would serialize the whole stage, and
    * only the base rows (not every replica) cross the exchange. This spread
    * is the one `ExtractJob` relies on instead of an exchange of its own.
    * NULL text reads as the empty document.
    */
  def docs(spark: SparkSession, sfDir: String, replicate: Int = 1): Dataset[Doc] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, concat_ws, explode, lit, sequence}
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("string").as("doc_id"), coalesce($"text", lit("")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val repl =
      if (replicate <= 1) base
      else base
        .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
        .select(concat_ws("#", $"doc_id", $"rep").as("doc_id"), $"text")
    repl.as[(String, String)].map { case (id, text) => synthDoc(id, text) }
  }
}
