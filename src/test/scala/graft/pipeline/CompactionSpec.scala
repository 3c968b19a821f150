package graft.pipeline

import graft.SparkTestBase
import graft.model.{Doc, Lineage}
import graft.sources.DocSynth
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.struct

class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  /** A fresh root whose one committed generation holds `write`'s table. */
  private def installed(prefix: String)(write: String => Unit): (String, String) = {
    val root = Files.createTempDirectory(prefix).toString + "/t"
    (root, VersionedTable.install(spark, root)(write))
  }

  private def tipRows(root: String): Seq[(Long, String)] =
    VersionedTable.read(spark, root).as[(Long, String)].collect().sortBy(_._1).toSeq

  test("compaction shrinks file count, preserves the row multiset") {
    // 64 tiny files of 500 rows
    val (root, _) = installed("graft-compact") { dest =>
      spark.range(500).selectExpr("id AS doc_id", "repeat('x', 100) AS text")
        .repartition(64).write.parquet(dest)
    }
    val beforeRows = tipRows(root)

    val r = VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    assert(r.filesBefore == 64)
    assert(r.filesAfter < 8, s"expected few output files, got ${r.filesAfter}")
    assert(tipRows(root) == beforeRows)
    // no staging residue: the root holds the two generations and nothing else
    assert(new java.io.File(root).list().sorted.toSeq == Seq("gen-00000001", "gen-00000002"))
  }

  test("partitioned compaction preserves the partition layout (pruning survives)") {
    val (root, _) = installed("graft-compact-part") { dest =>
      spark.range(400)
        .selectExpr("id AS doc_id", "id % 4 AS grp", "repeat('y', 50) AS text")
        .repartition(16).write.partitionBy("grp").parquet(dest)
    }
    val before = VersionedTable.read(spark, root)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

    val r = VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    assert(r.filesAfter < r.filesBefore)

    // layout: grp=* directories still exist -> partition pruning still works
    val gen = tip(root)
    (0 until 4).foreach { g =>
      assert(new java.io.File(s"$gen/grp=$g").isDirectory, s"grp=$g dir missing")
    }
    val after = VersionedTable.read(spark, root)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(after == before)
    // pruned read touches one partition's files only
    val pruned = VersionedTable.read(spark, root).where($"grp" === 2)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(grp"), scanned.take(2000))
  }

  test("compaction is a fixpoint: compacting a compacted table changes nothing material") {
    val (root, _) = installed("graft-compact-fix") { dest =>
      spark.range(2000).selectExpr("id AS doc_id", "repeat(md5(cast(id as string)), 2) AS text")
        .repartition(32).write.parquet(dest)
    }
    val r1 = VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    val rows = tipRows(root)
    val r2 = VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    assert(r2.filesBefore == r1.filesAfter)
    assert(r2.filesAfter <= r2.filesBefore, s"re-compaction grew files: $r2")
    assert(tipRows(root) == rows)
  }

  test("partitioned compaction keeps rows whose partition value is NULL") {
    val (root, _) = installed("graft-compact-null") { dest =>
      spark.range(300)
        .selectExpr("id AS doc_id",
          "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 3 END AS grp",
          "repeat(md5(cast(id as string)), 2) AS text")
        .repartition(4).write.partitionBy("grp").parquet(dest)
    }
    assert(VersionedTable.read(spark, root).where($"grp".isNull).count() == 100)
    VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    // a null-dropping equi-join here would have lost them from the new tip
    assert(VersionedTable.read(spark, root).count() == 300)
    assert(VersionedTable.read(spark, root).where($"grp".isNull).count() == 100)
  }

  test("partitioned compaction never SHATTERS small partitions (per-partition salt budget)") {
    // 16 modest partitions; total >> target, so a GLOBAL salt modulus would
    // spread every partition over ~total/target tasks and multiply files
    val (root, _) = installed("graft-compact-many") { dest =>
      spark.range(16000)
        .selectExpr("id AS doc_id", "id % 16 AS grp",
          "repeat(md5(cast(id as string)), 4) AS text")
        .repartition(8).write.partitionBy("grp").parquet(dest)
    }
    val r = VersionedTable.compact(spark, root, targetFileBytes = 64L * 1024)
    // each ~130KB partition deserves ~2-3 files; shattering would give 16x20+
    val gen = tip(root)
    val perPart = (0 until 16).map { g =>
      new java.io.File(s"$gen/grp=$g").listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(perPart.forall(n => n >= 1 && n <= 4),
      s"small partitions shattered: files per partition = $perPart")
    assert(r.filesAfter <= 64, s"file count multiplied: ${r.filesBefore} -> ${r.filesAfter}")
    assert(VersionedTable.read(spark, root).count() == 16000)
  }

  test("partitioned compaction splits an oversized partition across multiple files") {
    // one dominant partition; tiny target forces it to split
    val (root, _) = installed("graft-compact-big") { dest =>
      spark.range(20000)
        .selectExpr("id AS doc_id", "CAST(0 AS BIGINT) AS grp",
          "repeat(md5(cast(id as string)), 8) AS text") // incompressible payload
        .repartition(4).write.partitionBy("grp").parquet(dest)
    }
    VersionedTable.compact(spark, root, targetFileBytes = 64L * 1024)
    val files = new java.io.File(s"${tip(root)}/grp=0").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files > 1, s"oversized partition compacted to a single writer file (files=$files)")
    assert(VersionedTable.read(spark, root).count() == 20000)
  }

  test("a non-positive target file size is rejected and leaves the table untouched") {
    val (root, g1) = installed("graft-compact-zero") { dest =>
      spark.range(100).selectExpr("id AS doc_id", "repeat('z', 20) AS text")
        .repartition(8).write.parquet(dest)
    }
    val rows = tipRows(root)
    for (target <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](
        VersionedTable.compact(spark, root, targetFileBytes = target))
      assert(e.getMessage.contains(s"got $target"), e.getMessage)
    }
    assert(VersionedTable.resolve(spark, root).contains(g1))
    assert(new java.io.File(root).list().toSeq == Seq("gen-00000001"))
    assert(Compact.countDataFiles(spark, g1) == 8)
    assert(tipRows(root) == rows)
  }

  test("CompactMain fails on a root with no committed generation and writes nothing") {
    val base = Files.createTempDirectory("graft-compact-main").toString
    val missing = s"$base/none"
    val e = intercept[RuntimeException](CompactMain.main(Array(missing)))
    assert(e.getMessage.contains(missing) && e.getMessage.forall(_ < 128), e.getMessage)
    assert(!new java.io.File(missing).exists())
    // a root holding only a crashed (uncommitted) generation fails alike
    val crashed = s"$base/crashed"
    spark.range(10).write.parquet(s"$crashed/gen-00000001")
    def listing = new java.io.File(crashed).list().sorted.toSeq
    val before = listing
    val e2 = intercept[RuntimeException](CompactMain.main(Array(crashed, "1")))
    assert(e2.getMessage.contains(crashed), e2.getMessage)
    assert(listing == before)
  }

  test("extraction output: a readSpans planned before a compaction returns the same rows after it") {
    val docs = DocSynth.docs(spark, sfDir)
    val out = Files.createTempDirectory("graft-compact-spans").toString
    // a killed run and its resume: two commits into one generation
    assert(Checkpoint.runResumable(docs, out, numGroups = 8, maxGroups = 3) == 3)
    assert(Checkpoint.runResumable(docs, out, numGroups = 8) == 5)
    def spans(df: DataFrame): Seq[Doc] = df.as[Doc].collect().sortBy(_.doc_id).toSeq
    def lineage: Seq[(Lineage, Long)] = Checkpoint.readLineage(spark, out)
      .select(struct($"partition_id", $"docs_parsed", $"spans_emitted", $"parse_failures",
        $"status"), $"grp").as[(Lineage, Long)].collect().sortBy(r => (r._2, r._1.partition_id)).toSeq
    val gen = tip(out)
    val planned = Checkpoint.readSpans(spark, out)
    val (rows, lineageBefore) = (spans(Checkpoint.readSpans(spark, out)), lineage)
    val spanFiles = new java.io.File(gen).listFiles().filter(_.getName.startsWith("grp="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum

    val r = VersionedTable.compact(spark, out)
    assert(tip(out) != gen)
    assert(r.filesBefore == spanFiles, s"counted ${r.filesBefore}, span files $spanFiles")
    assert(r.filesAfter < r.filesBefore, s"$r")
    assert(rows.length == 500)
    assert(spans(planned) == rows, "a DataFrame planned before the compaction changed")
    assert(spans(Checkpoint.readSpans(spark, out)) == rows)
    assert(lineage == lineageBefore)
    assert(Checkpoint.runResumable(docs, out, numGroups = 8) == 0)
  }

  test("CompactMain.parseArgs rejects a bad targetFileMB with the usage line") {
    for (bad <- Seq("0", "-1", "x", "1.5")) {
      val e = intercept[IllegalArgumentException](CompactMain.parseArgs(Array("t", bad)))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("usage: CompactMain"),
        e.getMessage)
    }
    assert(CompactMain.parseArgs(Array("t")) == (("t", 128)))
    assert(CompactMain.parseArgs(Array("t", "64")) == (("t", 64)))
    // the partition columns are discovered on the tip, never passed
    for (bad <- Seq(Array.empty[String], Array("t", "64", "grp"))) {
      val e = intercept[IllegalArgumentException](CompactMain.parseArgs(bad))
      assert(e.getMessage.contains("usage: CompactMain <tableRoot> [targetFileMB]"), e.getMessage)
    }
  }

  test("CompactMain on a partially extracted outDir keeps grp partitions: a resume sees every doc") {
    val docs = DocSynth.docs(spark, sfDir)
    val out = Files.createTempDirectory("graft-compact-resume").toString
    assert(Checkpoint.runResumable(docs, out, numGroups = 8, maxGroups = 3) == 3)
    CompactMain.main(Array(out))
    val gen = tip(out)
    assert(new java.io.File(gen).list().exists(_.startsWith("grp=")),
      s"compaction flattened the grp layout: ${new java.io.File(gen).list().sorted.mkString(", ")}")
    assert(Checkpoint.runResumable(docs, out, numGroups = 8) == 5)
    assert(Checkpoint.readSpans(spark, out).select("doc_id").distinct().count() == 500)
  }

  test("versioned table: install commits generations, resolve tracks the tip, retention prunes") {
    val root = Files.createTempDirectory("graft-vt").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    assert(VersionedTable.resolve(spark, root).isEmpty)
    val g1 = VersionedTable.install(spark, root) { dest =>
      spark.range(100).selectExpr("id AS doc_id").write.parquet(dest)
    }
    assert(VersionedTable.resolve(spark, root).contains(g1))
    assert(VersionedTable.read(spark, root).count() == 100)

    val g2 = VersionedTable.install(spark, root) { dest =>
      spark.range(200).selectExpr("id AS doc_id").write.parquet(dest)
    }
    assert(VersionedTable.resolve(spark, root).contains(g2))
    assert(VersionedTable.read(spark, root).count() == 200)
    // keep=2: the PREVIOUS generation survives installation of the new one —
    // a reader that resolved g1 before the install still reads it unharmed
    assert(fs.exists(new org.apache.hadoop.fs.Path(g1)))
    assert(spark.read.parquet(g1).count() == 100)

    val g3 = VersionedTable.install(spark, root) { dest =>
      spark.range(300).selectExpr("id AS doc_id").write.parquet(dest)
    }
    assert(VersionedTable.resolve(spark, root).contains(g3))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(g1)), "retention should drop g1 at keep=2")
    assert(fs.exists(new org.apache.hadoop.fs.Path(g2)))
  }

  test("versioned table: a crashed install (data, no marker) is invisible and swept") {
    val root = Files.createTempDirectory("graft-vt-crash").toString + "/t"
    val g1 = VersionedTable.install(spark, root) { dest =>
      spark.range(50).selectExpr("id AS doc_id").write.parquet(dest)
    }
    // simulate a kill between data write and marker write: gen-2 data, no marker
    val crashed = root + "/gen-00000002"
    spark.range(999).selectExpr("id AS doc_id").write.parquet(crashed)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(crashed, "_committed"), false) // not written by writer; ensure absent
    assert(VersionedTable.resolve(spark, root).contains(g1),
      "uncommitted generation must not be resolvable")
    assert(VersionedTable.read(spark, root).count() == 50)

    // the next successful install burns gen-2's number and sweeps its debris
    val g3 = VersionedTable.install(spark, root) { dest =>
      spark.range(75).selectExpr("id AS doc_id").write.parquet(dest)
    }
    assert(g3.endsWith("gen-00000003"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(crashed)), "crashed debris should be swept")
    assert(VersionedTable.read(spark, root).count() == 75)
  }

  test("versioned compaction: file count drops, rows preserved, old generation stays readable") {
    val root = Files.createTempDirectory("graft-vt-compact").toString + "/t"
    val g1 = VersionedTable.install(spark, root) { dest =>
      spark.range(500).selectExpr("id AS doc_id", "repeat('z', 100) AS text")
        .repartition(64).write.parquet(dest)
    }
    val before = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq

    val r = VersionedTable.compact(spark, root, targetFileBytes = 8L * 1024 * 1024)
    assert(r.filesBefore == 64)
    assert(r.filesAfter < 8, s"expected few output files, got ${r.filesAfter}")

    val after = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == before)
    // the reader-safety property the in-place swap cannot offer: the
    // pre-compaction generation is still fully readable after the install
    assert(spark.read.parquet(g1).count() == 500)
    assert(VersionedTable.resolve(spark, root).exists(_ != g1))
  }
}
