package graft.multimodal

import graft.SparkTestBase
import graft.pipeline.ExtractJob
import graft.sources.DocSynth

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("media records: every media span yields one typed binary record") {
    val docs = ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir))._1
    val nMediaSpans = docs.collect().map(_.spans.count(_.kind == "media")).sum
    val recs = MediaPipeline.mediaRecords(docs).collect()
    assert(recs.length == nMediaSpans && recs.nonEmpty)
    assert(recs.forall(r => r.bytes.nonEmpty && Set("image", "audio", "video")(r.media_type)))
  }

  test("feature extraction: deterministic across partitionings and batch sizes") {
    val docs = ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir))._1
    val recs = MediaPipeline.mediaRecords(docs)
    def run(parts: Int, batch: Int) =
      MediaPipeline.extractFeatures(recs.repartition(parts), StubDecoder, batch)
        .collect().sortBy(r => (r.doc_id, r.media_ref))
        .map(r => (r.doc_id, r.media_ref, r.media_type, r.byte_len, r.width, r.height,
          r.n_frames, r.histogram.toSeq)).toSeq
    val a = run(2, 8)
    val b = run(7, 64)
    assert(a == b && a.nonEmpty)
    assert(a.forall { case (_, _, _, len, w, h, f, hist) =>
      len > 0 && w > 0 && h > 0 && f > 0 && math.abs(hist.sum - 1.0f) < 1e-3
    })
  }

  test("real decode path: synthesized BMP/WAV payloads parse genuinely; corrupt bytes -> parse_ok=false") {
    val docs = ExtractJob.extractWithLineage(DocSynth.docs(spark, sfDir))._1
    val recs = MediaPipeline.mediaRecords(docs)
    val feats = MediaPipeline.extractFeatures(recs).collect() // default SniffDecoder
    val images = feats.filter(_.media_type == "image")
    val audios = feats.filter(_.media_type == "audio")
    assert(images.nonEmpty && audios.nonEmpty)
    // every synthesized container parses; features come from the REAL headers
    assert(images.forall(f => f.parse_ok && f.width >= 3 && f.width <= 15 && f.n_frames == 1))
    assert(audios.forall(f => f.parse_ok && f.width == 8000 && f.height == 16 && f.n_frames >= 32))
    assert(feats.filter(_.media_type == "video").forall(_.parse_ok)) // stub path never fails
    // corrupt a recognized container: counted, not thrown
    val corrupt = recs.limit(1).collect().head match {
      case r => r.copy(media_type = "image",
        bytes = BmpCodec.encode(4, 4, Array.fill(16)(1)).take(40))
    }
    val bad = MediaPipeline.extractFeatures(
      spark.createDataset(Seq(corrupt))).collect()
    assert(bad.length == 1 && !bad.head.parse_ok && bad.head.byte_len == 40)
  }

  test("frame sampling stub: bounded, deterministic") {
    assert(MediaPipeline.sampleFrameIndices(300, 8).size == 8)
    assert(MediaPipeline.sampleFrameIndices(3, 8) == Seq(0, 1, 2))
    assert(MediaPipeline.sampleFrameIndices(0, 8).isEmpty)
    assert(MediaPipeline.sampleFrameIndices(300, 8) == MediaPipeline.sampleFrameIndices(300, 8))
  }
}
