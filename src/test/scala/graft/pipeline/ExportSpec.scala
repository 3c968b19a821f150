package graft.pipeline

import graft.{SparkEntry, SparkTestBase}
import graft.operators.{CorpusOps, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ExportSpec extends SparkTestBase {
  import spark.implicits._

  /** The curated table of the `q_curation_pipeline` registry query. */
  private def curatedTable() = SparkEntry.queries("q_curation_pipeline")(spark, sfDir)

  private def assembled() =
    ExportJob.assembleFrom(curatedTable(), Tables.documents(spark, sfDir), nShards = 4)

  test("assemble: admission = train split ∩ mixture rule; packing arithmetic exact per shard") {
    val curated = curatedTable()
    val out = assembled().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6)))

    // admission set: exactly the curated-train docs passing the mixture hash
    val expectedIds = CorpusOps.withMixture(
        Tables.documents(spark, sfDir)
          .join(curated.where($"split" === "train").select("doc_id"), "doc_id"))
      .where($"mix_u" < $"target_ppm").select("doc_id").as[Long].collect().toSet
    assert(out.map(_._3).toSet == expectedIds)
    assert(out.nonEmpty && expectedIds.size < curated.count(),
      "mixture sampled nothing out — degenerate test input")

    // per-shard: dense positions and the exact running-sum packing identity
    out.groupBy(_._1).foreach { case (shard, rows) =>
      val byPos = rows.sortBy(_._2)
      assert(byPos.map(_._2).toSeq == (1L to rows.length).toSeq, s"shard $shard positions")
      var cum = 0L
      byPos.foreach { case (_, _, id, _, nTok, seqId, seqOff) =>
        assert(seqId == cum / 512, s"doc $id seq_id")
        assert(seqOff == cum % 512, s"doc $id seq_offset")
        cum += nTok
      }
    }
  }

  test("assemble: deterministic under input repartitioning") {
    val base = assembled().collect().toSet
    val curated = curatedTable().repartition(7)
    val again = ExportJob
      .assembleFrom(curated, Tables.documents(spark, sfDir).repartition(5), nShards = 4)
      .collect().toSet
    assert(again == base)
  }

  test("ExportMain.run: a non-positive shard count fails before anything is written") {
    val outDir = Files.createTempDirectory("graft-export-zero").toString
    val e = intercept[IllegalArgumentException](ExportMain.run(spark, sfDir, outDir, nShards = 0))
    assert(e.getMessage.contains("got 0"), e.getMessage)
    assert(new java.io.File(outDir).list().isEmpty)
  }

  test("ExportMain.parseArgs rejects a bad nShards with the usage line") {
    for (bad <- Seq("0", "-1", "x", "1.5")) {
      val e = intercept[IllegalArgumentException](ExportMain.parseArgs(Array("in", "out", bad)))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("usage: ExportMain"),
        e.getMessage)
    }
    assert(ExportMain.parseArgs(Array("in", "out")) == (("in", "out", 8)))
    assert(ExportMain.parseArgs(Array("in", "out", "3")) == (("in", "out", 3)))
  }

  /** The generation directories under an export's outDir, oldest first. */
  private def generations(outDir: String): Seq[String] =
    new java.io.File(outDir).list().filter(_.startsWith("gen-")).sorted.toSeq

  /** A committed generation's tag: its marker minus the generation number. */
  private def tag(gen: String): Seq[String] =
    Files.readString(java.nio.file.Paths.get(gen, "_committed")).split("\n").toSeq.drop(1)

  test("ExportMain.run: marker-after-data commit — crash rewrites, committed run is a no-op") {
    val outDir = Files.createTempDirectory("graft-export").toString
    ExportMain.run(spark, sfDir, outDir, nShards = 4)
    val committed = tip(outDir)
    val recorded = tag(committed)
    assert(recorded.headOption.contains("export-v1/shards=4"), recorded.toString)

    def signature(): Seq[String] = spark.read.parquet(s"${tip(outDir)}/data")
      .select(md5(concat_ws("|", $"shard", $"pos", $"doc_id", $"n_tokens",
        $"seq_id", $"seq_offset", $"text")))
      .as[String].collect().sorted.toSeq
    val sig = signature()
    assert(sig.nonEmpty)
    // summary agrees with the written data
    val sum = spark.read.parquet(s"$committed/summary")
      .agg(org.apache.spark.sql.functions.sum($"docs")).as[Long].collect()(0)
    assert(sum == sig.length.toLong)

    // committed: a re-run is a no-op — the same tip, no generation added —
    // and says so in plain ASCII (a non-ASCII character prints as '?' under
    // an ASCII stdout charset)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      ExportMain.run(spark, sfDir, outDir, nShards = 4)
    }
    val noop = out.toString("UTF-8").split("\n").filter(_.contains("already committed"))
    assert(noop.length == 1, out.toString("UTF-8"))
    assert(noop.head.forall(_ < 128), s"progress line is not ASCII: ${noop.head}")
    assert(tip(outDir) == committed, "committed export was rewritten on resume")
    assert(generations(outDir) == Seq("gen-00000001"))

    // crash simulation: the only generation lost its commit marker and a
    // shard -> the next run installs a fresh generation that converges to
    // the identical content signature, and the crashed one is swept
    Files.delete(java.nio.file.Paths.get(committed, "_committed"))
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$committed/data/shard=2"), true)
    ExportMain.run(spark, sfDir, outDir, nShards = 4)
    assert(signature() == sig, "resume after crash diverged from the clean run")
    assert(generations(outDir) == Seq("gen-00000002"))
    assert(tag(tip(outDir)) == recorded)
  }

  test("ExportMain.run: a refreshed input corpus invalidates a committed export") {
    // private input copy so the test can change its identity
    val inDir = Files.createTempDirectory("graft-export-in").toString
    val fsIn = new org.apache.hadoop.fs.Path(inDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsIn.mkdirs(new org.apache.hadoop.fs.Path(inDir))
    org.apache.hadoop.fs.FileUtil.copy(
      fsIn, new org.apache.hadoop.fs.Path(s"$sfDir/documents.parquet"),
      fsIn, new org.apache.hadoop.fs.Path(s"$inDir/documents.parquet"),
      false, spark.sparkContext.hadoopConfiguration)

    val outDir = Files.createTempDirectory("graft-export-refresh").toString
    ExportMain.run(spark, inDir, outDir, nShards = 4)
    val committed = tip(outDir)
    val recorded = tag(committed)
    assert(recorded.length == 2 && recorded(1).nonEmpty, "no input digest recorded: " + recorded)

    // unchanged input: still a no-op
    ExportMain.run(spark, inDir, outDir, nShards = 4)
    assert(tip(outDir) == committed, "same-input resume should be a no-op")
    assert(generations(outDir).length == 1)

    // refreshed input (an mtime bump changes the file-metadata identity):
    // the committed generation must NOT be reused — the export re-runs
    val someFile = {
      val it = fsIn.listFiles(new org.apache.hadoop.fs.Path(s"$inDir/documents.parquet"), true)
      var p: org.apache.hadoop.fs.Path = null
      while (it.hasNext) { val f = it.next(); if (f.isFile) p = f.getPath }
      p
    }
    fsIn.setTimes(someFile, System.currentTimeMillis() + 60000, -1)
    ExportMain.run(spark, inDir, outDir, nShards = 4)
    assert(tip(outDir) != committed, "refreshed input served a stale committed export")
    val after = tag(tip(outDir))
    assert(after != recorded, "the new generation should record the new input identity")
  }

  test("ExportMain.run: a re-run with another shard count re-exports, and the tip is the one reused") {
    val outDir = Files.createTempDirectory("graft-export-shards").toString
    def shardDirs(): Int =
      new java.io.File(s"${tip(outDir)}/data").list().count(_.startsWith("shard="))
    ExportMain.run(spark, sfDir, outDir, nShards = 4)
    assert(shardDirs() == 4)
    ExportMain.run(spark, sfDir, outDir, nShards = 3)
    assert(shardDirs() == 3, "a re-run with nShards = 3 kept serving the 4-shard export")
    // back to 4: the superseded 4-shard generation is not the tip, so a new
    // one is installed rather than the old one reused
    ExportMain.run(spark, sfDir, outDir, nShards = 4)
    assert(shardDirs() == 4)
    assert(tip(outDir).endsWith("gen-00000003"), tip(outDir))
    assert(generations(outDir) == Seq("gen-00000002", "gen-00000003"))
  }
}
