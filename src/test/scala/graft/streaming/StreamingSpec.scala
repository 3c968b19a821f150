package graft.streaming

import graft.SparkTestBase
import graft.model.{Doc, Span}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming extraction: kernel over MemoryStream matches batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Doc("s1", Seq(Span("text", "a" * 920, "", 0))),
      Doc("s2", Seq(Span("image", "", "media://1", 0), Span("pdf_page", "b" * 100, "", 1))))
    val stream = MemoryStream[Doc]
    val q = StreamingExtract.extractStream(stream.toDS())
      .writeStream.format("memory").queryName("spans_out").outputMode("append").start()
    stream.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("spans_out").as[Doc].collect().sortBy(_.doc_id).toSeq
    val batch = docs.map(graft.kernel.Extract.extractDoc(_)).sortBy(_.doc_id)
    assert(streamed == batch)
    assert(streamed.head.spans.map(_.kind) == Seq("chunk", "chunk", "chunk"))
  }

  test("watermarked windowed span-rate aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Long)]
    val df = stream.toDS().toDF("ts", "kind", "chars")
    val q = StreamingExtract.spanRate(df, "5 minutes")
      .writeStream.format("memory").queryName("span_rate").outputMode("complete").start()
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "chunk", 500L),
      (Timestamp.valueOf("2024-01-01 10:45:00"), "chunk", 300L),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "media", 0L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("span_rate")
      .select("hour", "kind", "spans", "chars").as[(Timestamp, String, Long, Long)]
      .collect().sortBy(r => (r._1.getTime, r._2))
    assert(rows.toSeq == Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "chunk", 2L, 800L),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "media", 1L, 0L)))
  }

  test("streaming curation: quality gate + PII scrub + dedup compose on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "text")
    val q = StreamingExtract.curateStream(df, minQuality = 0.5, watermark = "10 minutes")
      .writeStream.format("memory").queryName("curated_out").outputMode("append").start()
    val longText = Seq.fill(80)("word").mkString(" ") // quality ~0.86
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "d1", s"$longText mail me at bob@corp.example.org or 555-1234"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "d2", "too short"),   // quality ~0.31 -> dropped
      (Timestamp.valueOf("2024-01-01 10:02:00"), "d3", s"$longText mail me at bob@corp.example.org or 555-1234")) // dup of d1 -> dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("curated_out")
      .select("doc_id", "scrubbed", "quality").collect()
    assert(rows.length == 1, rows.mkString("; "))
    val r = rows.head
    assert(r.getString(0) == "d1")
    assert(r.getString(1).endsWith("mail me at <EMAIL> or <PHONE>"), r.getString(1))
    assert(r.getDouble(2) >= 0.5)
  }

  test("streaming exact dedup drops in-horizon duplicates, state watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "text")
    val q = StreamingExtract.dedupStream(df, "10 minutes")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    // batch 1: two distinct texts + one in-batch duplicate
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "a1", "same words"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "a2", "same words"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), "b1", "other words"))
    q.processAllAvailable()
    // batch 2: duplicate arriving within the watermark horizon is dropped
    stream.addData((Timestamp.valueOf("2024-01-01 10:05:00"), "a3", "same words"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").select("doc_id").as[String].collect().sorted.toSeq
    assert(kept == Seq("a1", "b1"))
  }

  test("streaming near-dup: paraphrase inside the watermark horizon dropped, outside survives") {
    import graft.operators.DedupOps
    implicit val sqlCtx = spark.sqlContext
    val textA = (0 until 80).map(i => s"alpha$i").mkString(" ")
    val textC = (0 until 80).map(i => s"omega$i").mkString(" ")  // genuinely novel
    val textD = (0 until 80).map(i => s"delta$i").mkString(" ")  // novel, advances watermark
    def bhOf(txt: String): Set[String] =
      DedupOps.withBandBuckets(Seq(("x", txt)).toDF("doc_id", "text"))
        .select("bh").as[String].collect().toSet
    // the paraphrase: the first single-word edit that preserves every band
    // bucket (a one-word change replaces 3 of 78 shingles, so most edit
    // positions leave all 8 minima — and hence both band hashes — intact;
    // which positions do is a deterministic property of md5). The drop rule
    // fires only on all-band collision, so this is the meaningful case.
    val textB = (10 until 70).iterator
      .map(p => (0 until 80).map(i => if (i == p) "changed" else s"alpha$i").mkString(" "))
      .find(t => bhOf(t) == bhOf(textA))
      .getOrElse(fail("no single-word edit preserves all band buckets"))
    assert(bhOf(textA).intersect(bhOf(textC)).isEmpty)

    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "text")
    val q = StreamingExtract.nearDedupStream(df, watermark = "10 minutes", windowLen = "5 minutes")
      .writeStream.format("memory").queryName("neardedup_out").outputMode("append").start()
    // batch 1: original + in-horizon paraphrase + novel doc
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "A", textA),
      (Timestamp.valueOf("2024-01-01 10:02:00"), "B", textB),
      (Timestamp.valueOf("2024-01-01 10:03:00"), "C", textC))
    q.processAllAvailable()
    // batch 2: advances the watermark past A's bucket horizon (10:00 + 10m)
    stream.addData((Timestamp.valueOf("2024-01-01 10:30:00"), "D", textD))
    q.processAllAvailable()
    // batch 3: the SAME paraphrase again, now outside the horizon -> survives
    stream.addData((Timestamp.valueOf("2024-01-01 10:31:00"), "E", textB))
    q.processAllAvailable()
    // batch 4: far-future event closes the 10:30 window
    stream.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "F", textD))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("neardedup_out").select("doc_id").as[String].collect().toSet
    assert(kept == Set("A", "C", "D", "E"), s"kept=$kept")
  }

  test("streaming near-dup: short docs are exact-deduped, never silently dropped") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "text")
    val q = StreamingExtract.nearDedupStream(df, watermark = "10 minutes", windowLen = "5 minutes")
      .writeStream.format("memory").queryName("neardedup_short").outputMode("append").start()
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "S1", "hello world"),   // < 3 tokens: no bands
      (Timestamp.valueOf("2024-01-01 10:01:00"), "S2", "hello world"),   // exact short dup -> dropped
      (Timestamp.valueOf("2024-01-01 10:02:00"), "S3", "goodbye moon"))  // novel short -> kept
    q.processAllAvailable()
    stream.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "Z",
      (0 until 80).map(i => s"zeta$i").mkString(" "))) // close the windows
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("neardedup_short").select("doc_id").as[String].collect().toSet
    assert(kept.contains("S1") && kept.contains("S3"), s"short docs vanished: kept=$kept")
    assert(!kept.contains("S2"), s"exact short duplicate not dropped: kept=$kept")
  }

  test("stateful running span counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Int)]
    val q = StreamingExtract.runningSpanCounts(stream.toDS())
      .writeStream.format("memory").queryName("doc_progress").outputMode("update").start()
    stream.addData(("d1", 3), ("d2", 1))
    q.processAllAvailable()
    stream.addData(("d1", 2))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("doc_progress").as[StreamingExtract.DocProgress]
      .collect().groupBy(_.doc_id).map { case (k, v) => k -> v.map(_.spans_total).max }
    assert(last == Map("d1" -> 5L, "d2" -> 1L))
  }

  test("streaming URL gate: canonicalizes like batch, drops blocklisted domains") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val df = stream.toDS().toDF("doc_id", "url")
    val q = StreamingExtract.urlFilterStream(df)
      .writeStream.format("memory").queryName("url_gate").outputMode("append").start()
    stream.addData(
      ("u1", "https://WWW.Site3.Example.COM/Page/7?utm_source=feed&id=1&ref=rss#s2"),
      ("u2", "https://www.site13.example.com/Page/1?id=2"), // blocklisted
      ("u3", "https://Site31.EXAMPLE.com/x?utm_medium=a"),  // blocklisted (no www.)
      ("u4", "http://site13.example.com/y"),                // blocklisted over PLAIN http
      ("u5", "https://ok.example.net/p?href=b&id=2&utm_a=1&utm_b=2")) // href= is NOT a tracking param
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("url_gate").select("doc_id", "canon_url", "domain")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("u1", "https://www.site3.example.com/Page/7?id=1", "site3.example.com"),
      ("u5", "https://ok.example.net/p?href=b&id=2", "ok.example.net")))
  }

  test("streaming state-backed dedup: micro-batches gate against the persisted corpus bands") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val stateDir = java.nio.file.Files.createTempDirectory("ds_stream_state").toString
    val corpusTmp = java.nio.file.Files.createTempDirectory("ds_stream_corpus").toString
    val outDir = java.nio.file.Files.createTempDirectory("ds_stream_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ds_stream_ckpt").toString
    graft.operators.Tables.documents(spark, sfDir).where(col("doc_id") % 10 =!= 0)
      .write.mode("overwrite").parquet(s"$corpusTmp/documents.parquet")
    assert(graft.operators.DedupState.build(spark, corpusTmp, stateDir))

    // expected survivors = the batch operator's verdicts over the same split
    val expected = graft.SparkEntry.queries("q_incremental_dedup")(spark, sfDir)
      .where(col("status") === "kept").select("doc_id")
      .as[Long].collect().toSet
    assert(expected.nonEmpty, "degenerate fixture: every streamed doc is a dup")

    val incoming = graft.operators.Tables.documents(spark, sfDir)
      .where(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val preCached = spark.sparkContext.getPersistentRDDs.keySet
    val stream = MemoryStream[(Long, String)]
    val q = StreamingExtract.stateDedupSink(
      stream.toDS().toDF("doc_id", "text"), stateDir, outDir, ckpt)
    val (first, second) = incoming.splitAt(incoming.length / 2)
    stream.addData(first: _*); q.processAllAvailable()
    stream.addData(second: _*); q.processAllAvailable()
    q.stop()

    val landed = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(landed == expected,
      s"streamed survivors diverge from the batch gate: extra=${(landed -- expected).take(3)}, missing=${(expected -- landed).take(3)}")

    // cache hygiene: the band table cached at sink construction must be
    // RELEASED once the query stops (termination listener) — the persistent
    // RDD set returns to its pre-sink state (unpersist + listener delivery
    // are asynchronous, so poll)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def leftover = spark.sparkContext.getPersistentRDDs.keySet -- preCached
    while (leftover.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leftover.isEmpty,
      s"band cache leaked after query.stop(): persistent RDD ids $leftover")
  }

  test("incrementalVerdicts broadcast gate: oversize batch drops the hints, verdicts identical") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val docs = graft.operators.Tables.documents(spark, sfDir).select("doc_id", "text")
    val corpusBands = graft.operators.DedupOps
      .withBandBuckets(docs.where(col("doc_id") % 10 =!= 0))
      .select("band", "bh").distinct()
    val batch = docs.where(col("doc_id") % 10 === 0)
    val hinted = graft.operators.DedupOps.incrementalVerdicts(batch, corpusBands)
    val gated = graft.operators.DedupOps.incrementalVerdicts(batch, corpusBands,
      batchRows = Some(Long.MaxValue)) // above any BroadcastMaxRows setting
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    assert(hints(hinted) > 0, "bounded batch must keep the broadcast hints")
    assert(hints(gated) == 0,
      "an above-threshold batch must shed the broadcast hints and let the planner shuffle")
    assert(gated.orderBy("doc_id").collect().toSeq ==
      hinted.orderBy("doc_id").collect().toSeq,
      "gating the hint must not change a single verdict")
  }

  test("streaming URL gate against a TABLE blocklist: stream-static anti join, unparseable URLs pass") {
    implicit val sqlCtx = spark.sqlContext
    // the blank row mimics a blocklist text file with an empty line — the
    // gate must sanitize it, or every unparseable URL (empty-string domain,
    // NOT null: regexp_extract returns '' on no match) would be dropped;
    // the padded row must still MATCH after trimming (a hand-edited list)
    val blocklist = Seq("site13.example.com", "  evil.example.org ", "").toDF("domain")
    val stream = MemoryStream[(String, String)]
    val df = stream.toDS().toDF("doc_id", "url")
    val q = StreamingExtract.blocklistTableGateStream(df, blocklist)
      .writeStream.format("memory").queryName("table_gate").outputMode("append").start()
    stream.addData(
      ("t1", "https://WWW.Site13.Example.COM/a?id=1"), // listed (case/www-insensitive)
      ("t2", "https://keep.example.net/b"),
      ("t3", "not a url at all"))   // unparseable → '' domain: passes, not a validity gate
    q.processAllAvailable()
    stream.addData(                                    // second micro-batch probes the same static side
      ("t4", "http://evil.example.org:8080/c"),        // listed, port-stripped
      ("t5", "https://keep.example.net/d"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("table_gate").select("doc_id").as[String].collect().sorted.toSeq
    assert(kept == Seq("t2", "t3", "t5"))
  }

  test("streaming per-domain rate cap: doc N+1 in-window dropped across micro-batches, next window passes") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "url")
    val q = StreamingExtract.domainRateCapStream(df, maxPerWindow = 2,
        watermark = "10 minutes", windowLen = "5 minutes")
      .writeStream.format("memory").queryName("domain_cap").outputMode("append").start()
    // batch 1: three docs from hot.example.com inside the 10:00-10:05 window
    // (third drops), one doc from a cold domain (passes)
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "h1", "https://HOT.example.com/a"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "h2", "https://hot.example.com/b?utm_source=x"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), "h3", "https://hot.example.com/c"),
      (Timestamp.valueOf("2024-01-01 10:01:30"), "c1", "https://cold.example.net/z"))
    q.processAllAvailable()
    // batch 2: SAME window, later micro-batch — counter must survive, h4 drops
    stream.addData((Timestamp.valueOf("2024-01-01 10:03:00"), "h4", "https://hot.example.com/d"))
    q.processAllAvailable()
    // batch 3: next window (10:05-10:10) — same domain admitted again
    stream.addData((Timestamp.valueOf("2024-01-01 10:06:00"), "h5", "https://hot.example.com/e"))
    q.processAllAvailable()
    // batch 4: far-future event advances the watermark past both windows,
    // evicting their counters via the event-time timeout
    stream.addData((Timestamp.valueOf("2024-01-01 11:00:00"), "z1", "https://cold.example.net/y"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("domain_cap")
    val kept = out.select("doc_id").as[String].collect().toSet
    assert(kept == Set("h1", "h2", "c1", "h5", "z1"), s"kept=$kept")
    // domains come through the shared canonicalizer (lowercased host)
    val domains = out.where($"doc_id".startsWith("h")).select("domain").as[String].collect().toSet
    assert(domains == Set("hot.example.com"))
  }

  test("streaming per-domain rate cap: admission is by (ts, doc_id), not arrival order") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, String)]
    val df = stream.toDS().toDF("ts", "doc_id", "url")
    val q = StreamingExtract.domainRateCapStream(df, maxPerWindow = 2,
        watermark = "10 minutes", windowLen = "5 minutes")
      .writeStream.format("memory").queryName("domain_cap_order").outputMode("append").start()
    // one burst, deliberately arriving LATEST-first: the bounded-heap
    // selection must admit the two event-time-earliest docs, exactly the
    // set a full sort of the burst would have picked (replay determinism)
    stream.addData(
      (Timestamp.valueOf("2024-01-01 10:04:00"), "late2", "https://burst.example.com/d"),
      (Timestamp.valueOf("2024-01-01 10:03:00"), "late1", "https://burst.example.com/c"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "early2", "https://burst.example.com/b"),
      (Timestamp.valueOf("2024-01-01 10:00:00"), "early1", "https://burst.example.com/a"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("domain_cap_order").select("doc_id").as[String].collect().toSet
    assert(kept == Set("early1", "early2"), s"kept=$kept")
  }

  test("streaming index sink: micro-batches append to the persisted IVF index") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.operators.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString
    // base index over even vec_ids; odd ids arrive on the stream
    graft.operators.AnnIndex.build(emb.where($"vec_id" % 2 === 0), s"$dir/index", nCells = 8)

    val odd = emb.where($"vec_id" % 2 === 1)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = StreamingExtract.indexSink(
      stream.toDS().toDF("vec_id", "embedding"), s"$dir/index", s"$dir/ckpt")
    stream.addData(odd.take(odd.size / 2): _*)
    q.processAllAvailable()
    stream.addData(odd.drop(odd.size / 2): _*) // second micro-batch
    q.processAllAvailable()
    q.stop()

    // full probe after streaming == brute force over the whole corpus
    val post = graft.operators.AnnIndex
      .search(spark, s"$dir/index", emb, 0, nprobe = 8, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val brute = graft.operators.AnnIndex.bruteForce(emb, 0, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(post == brute)
    // two committed micro-batches in the manifest
    assert(spark.read.parquet(s"${tip(s"$dir/index")}/_batches").distinct().count() == 2)
  }
}
