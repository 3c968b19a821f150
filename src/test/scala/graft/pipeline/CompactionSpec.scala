package graft.pipeline

import graft.SparkTestBase
import java.nio.file.Files

class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  test("compaction shrinks file count, preserves the row multiset") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    // 64 tiny files of 500 rows
    spark.range(500).selectExpr("id AS doc_id", "repeat('x', 100) AS text")
      .repartition(64).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq

    val r = Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024)
    assert(r.filesBefore == 64)
    assert(r.filesAfter < 8, s"expected few output files, got ${r.filesAfter}")

    val afterRows = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(afterRows == beforeRows)
    // no staging residue
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__compact_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__compact_old")))
  }

  test("partitioned compaction preserves the partition layout (pruning survives)") {
    val dir = Files.createTempDirectory("graft-compact-part").toString + "/t"
    spark.range(400)
      .selectExpr("id AS doc_id", "id % 4 AS grp", "repeat('y', 50) AS text")
      .repartition(16).write.partitionBy("grp").parquet(dir)
    val before = spark.read.parquet(dir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq

    val r = Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024,
      partitionBy = Seq("grp"))
    assert(r.filesAfter < r.filesBefore)

    // layout: grp=* directories still exist -> partition pruning still works
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 4).foreach { g =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/grp=$g")), s"grp=$g dir missing")
    }
    val after = spark.read.parquet(dir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(after == before)
    // pruned read touches one partition's files only
    val pruned = spark.read.parquet(dir).where($"grp" === 2)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(grp"), scanned.take(2000))
  }

  test("compaction is a fixpoint: compacting a compacted table changes nothing material") {
    val dir = Files.createTempDirectory("graft-compact-fix").toString + "/t"
    spark.range(2000).selectExpr("id AS doc_id", "repeat(md5(cast(id as string)), 2) AS text")
      .repartition(32).write.parquet(dir)
    val r1 = Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024)
    val rows = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq
    val r2 = Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024)
    assert(r2.filesBefore == r1.filesAfter)
    assert(r2.filesAfter <= r2.filesBefore, s"re-compaction grew files: $r2")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
  }

  test("a crashed swap (table renamed aside, new table not installed) self-repairs") {
    val dir = Files.createTempDirectory("graft-compact-crash").toString + "/t"
    spark.range(100).selectExpr("id AS doc_id", "repeat('z', 20) AS text")
      .repartition(8).write.parquet(dir)
    val rows = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq

    // simulate a kill between the two swap renames: dir is gone, old exists
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"${dir}__compact_old")))

    val r = Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024)
    assert(r.filesBefore == 8 && r.filesAfter < 8)
    val after = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == rows)
  }

  test("partitioned compaction keeps rows whose partition value is NULL") {
    val dir = Files.createTempDirectory("graft-compact-null").toString + "/t"
    spark.range(300)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE id % 3 END AS grp",
        "repeat(md5(cast(id as string)), 2) AS text")
      .repartition(4).write.partitionBy("grp").parquet(dir)
    assert(spark.read.parquet(dir).where($"grp".isNull).count() == 100)
    Compact.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024, partitionBy = Seq("grp"))
    // a null-dropping equi-join here would have deleted the only copy
    assert(spark.read.parquet(dir).count() == 300)
    assert(spark.read.parquet(dir).where($"grp".isNull).count() == 100)
  }

  test("partitioned compaction never SHATTERS small partitions (per-partition salt budget)") {
    val dir = Files.createTempDirectory("graft-compact-many").toString + "/t"
    // 16 modest partitions; total >> target, so a GLOBAL salt modulus would
    // spread every partition over ~total/target tasks and multiply files
    spark.range(16000)
      .selectExpr("id AS doc_id", "id % 16 AS grp",
        "repeat(md5(cast(id as string)), 4) AS text")
      .repartition(8).write.partitionBy("grp").parquet(dir)
    val r = Compact.compact(spark, dir, targetFileBytes = 64L * 1024, partitionBy = Seq("grp"))
    // each ~130KB partition deserves ~2-3 files; shattering would give 16x20+
    val perPart = (0 until 16).map { g =>
      new java.io.File(s"$dir/grp=$g").listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(perPart.forall(n => n >= 1 && n <= 4),
      s"small partitions shattered: files per partition = $perPart")
    assert(r.filesAfter <= 64, s"file count multiplied: ${r.filesBefore} -> ${r.filesAfter}")
    assert(spark.read.parquet(dir).count() == 16000)
  }

  test("partitioned compaction splits an oversized partition across multiple files") {
    val dir = Files.createTempDirectory("graft-compact-big").toString + "/t"
    // one dominant partition; tiny target forces it to split
    spark.range(20000)
      .selectExpr("id AS doc_id", "CAST(0 AS BIGINT) AS grp",
        "repeat(md5(cast(id as string)), 8) AS text") // incompressible payload
      .repartition(4).write.partitionBy("grp").parquet(dir)
    val r = Compact.compact(spark, dir, targetFileBytes = 64L * 1024, partitionBy = Seq("grp"))
    val files = new java.io.File(s"$dir/grp=0").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files > 1, s"oversized partition compacted to a single writer file (files=$files)")
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("a non-positive target file size is rejected and leaves the table untouched") {
    val dir = Files.createTempDirectory("graft-compact-zero").toString + "/t"
    spark.range(100).selectExpr("id AS doc_id", "repeat('z', 20) AS text")
      .repartition(8).write.parquet(dir)
    val rows = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq
    val files = Compact.countDataFiles(spark, dir)
    for (target <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](Compact.compact(spark, dir, targetFileBytes = target))
      assert(e.getMessage.contains(s"got $target"), e.getMessage)
    }
    assert(Compact.countDataFiles(spark, dir) == files)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1).toSeq == rows)

    val root = Files.createTempDirectory("graft-vt-zero").toString + "/t"
    val g1 = VersionedTable.install(spark, root) { dest =>
      spark.range(100).selectExpr("id AS doc_id").repartition(8).write.parquet(dest)
    }
    intercept[IllegalArgumentException](VersionedTable.compact(spark, root, targetFileBytes = 0L))
    assert(VersionedTable.resolve(spark, root).contains(g1))
    assert(Compact.countDataFiles(spark, g1) == 8)
    assert(VersionedTable.read(spark, root).count() == 100)
  }

  test("CompactMain.parseArgs rejects a bad targetFileMB with the usage line") {
    for (bad <- Seq("0", "-1", "x", "1.5")) {
      val e = intercept[IllegalArgumentException](CompactMain.parseArgs(Array("t", bad)))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("usage: CompactMain"),
        e.getMessage)
    }
    assert(CompactMain.parseArgs(Array("t")) == (("t", 128, Nil)))
    assert(CompactMain.parseArgs(Array("t", "64", "grp,lang")) == (("t", 64, Seq("grp", "lang"))))
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
