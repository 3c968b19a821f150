package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Persisted dedup-state contract: batch-vs-state verdicts must equal the
  * from-scratch oracled operator, the probe must never rescan the corpus,
  * crashed builds must be invisible, and a refreshed corpus must
  * invalidate the committed state.
  */
class DedupStateSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("dedup_state").toString

  /** The corpus `documents.parquet` minus the docs with `doc_id % 10` in `drop`. */
  private def writeCorpus(dir: String, drop: Long*): Unit =
    Tables.documents(spark, sfDir).where(!(col("doc_id") % 10).isin(drop: _*))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(c => deleteRec(c))
    Files.delete(p)
  }

  test("dedupBatch against the persisted state equals q_incremental_dedup exactly") {
    val stateDir = freshDir()
    // state over the corpus MINUS the incoming batch — the q_incremental_dedup split
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L)
    assert(DedupState.build(spark, corpusTmp, stateDir))

    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 10 === 0)
    val got = DedupState.dedupBatch(spark, stateDir, batch)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val expected = graft.SparkEntry.queries("q_incremental_dedup")(spark, sfDir)
      .as[(Long, String)].collect().toSeq
    assert(got == expected, s"state-backed verdicts diverge: ${got.diff(expected).take(3)}")
    assert(got.exists(_._2 == "dup") && got.exists(_._2 == "kept"),
      "degenerate fixture: need both verdicts")
  }

  test("the probe plan reads the state parquet, not the corpus") {
    val stateDir = freshDir()
    assert(DedupState.build(spark, sfDir, stateDir))
    val gen = DedupState.generation(spark, stateDir)
    assert(gen.contains(s"$stateDir/gen-"), gen)
    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 10 === 0)
    val p = DedupState.dedupBatch(spark, stateDir, batch)
      .queryExecution.executedPlan.toString
    assert(p.contains(s"$gen/bands"), p.take(3000))
    // every documents.parquet scan belongs to the BATCH input (two batch
    // branches: band derivation + the verdict left-join base) — the corpus
    // side must contribute none, so the count is exactly 2
    val corpusScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents.parquet"))
    assert(corpusScans == 2, s"corpus rescanned: $corpusScans documents scans\n${p.take(3000)}")
  }

  test("second build is a committed no-op; crashed build is invisible and fails fast") {
    val stateDir = freshDir()
    assert(DedupState.build(spark, sfDir, stateDir))
    assert(!DedupState.build(spark, sfDir, stateDir), "committed state rebuilt for identical input")
    // simulate the worst-window crash: data present, marker gone
    val gen = new org.apache.hadoop.fs.Path(DedupState.generation(spark, stateDir)).toUri.getPath
    Files.delete(Paths.get(gen, "_committed"))
    val batch = Tables.documents(spark, sfDir).limit(5)
    intercept[IllegalStateException] {
      DedupState.dedupBatch(spark, stateDir, batch)
    }
    assert(DedupState.build(spark, sfDir, stateDir), "crashed build not rebuilt")
  }

  test("a refreshed corpus invalidates the committed state") {
    val stateDir = freshDir()
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L)
    assert(DedupState.build(spark, corpusTmp, stateDir))
    assert(!DedupState.build(spark, corpusTmp, stateDir))
    writeCorpus(corpusTmp, 1L) // refreshed input: different files/lengths/mtimes
    assert(DedupState.build(spark, corpusTmp, stateDir),
      "stale state served for a refreshed corpus")
  }

  test("a decommissioned input resumes from the committed state alone") {
    val stateDir = freshDir()
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L)
    assert(DedupState.build(spark, corpusTmp, stateDir))
    // input decommissioned after staging
    deleteRec(Paths.get(corpusTmp, "documents.parquet"))
    assert(!DedupState.build(spark, corpusTmp, stateDir),
      "committed state not trusted when input is gone")
    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 10 === 0)
    val rows = DedupState.dedupBatch(spark, stateDir, batch).count()
    assert(rows == batch.count())
  }

  test("a rebuild leaves a planned reader on its generation with unchanged verdicts") {
    val stateDir = freshDir()
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L, 1L, 2L, 3L, 4L)
    assert(DedupState.build(spark, corpusTmp, stateDir))
    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 10 === 0)
    val open = DedupState.dedupBatch(spark, stateDir, batch).orderBy("doc_id")
    val before = open.as[(Long, String)].collect().toSeq
    // the refreshed corpus is the q_incremental_dedup split
    writeCorpus(corpusTmp, 0L)
    assert(DedupState.build(spark, corpusTmp, stateDir), "refreshed corpus not rebuilt")
    assert(open.as[(Long, String)].collect().toSeq == before,
      "a reader planned before the rebuild saw its verdicts change")
    val fresh = DedupState.dedupBatch(spark, stateDir, batch)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val expected = graft.SparkEntry.queries("q_incremental_dedup")(spark, sfDir)
      .as[(Long, String)].collect().toSeq
    assert(fresh == expected, s"rebuilt state diverges: ${fresh.diff(expected).take(3)}")
  }

  test("a crashed rebuild keeps serving the committed generation and is swept by the next build") {
    val stateDir = freshDir()
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L)
    assert(DedupState.build(spark, corpusTmp, stateDir))
    val gen1 = DedupState.generation(spark, stateDir)
    // a kill mid-rebuild: gen-2 holds partial tables and no _committed marker
    val crashed = s"$stateDir/gen-00000002"
    spark.read.parquet(s"$gen1/bands").limit(3).write.parquet(s"$crashed/bands")
    assert(DedupState.generation(spark, stateDir) == gen1)
    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 10 === 0)
    val got = DedupState.dedupBatch(spark, stateDir, batch)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val expected = graft.SparkEntry.queries("q_incremental_dedup")(spark, sfDir)
      .as[(Long, String)].collect().toSeq
    assert(got == expected, "the uncommitted generation leaked into the verdicts")
    writeCorpus(corpusTmp, 0L, 1L) // the retried rebuild sees a refreshed corpus
    assert(DedupState.build(spark, corpusTmp, stateDir))
    assert(DedupState.generation(spark, stateDir).endsWith("gen-00000003"))
    assert(!Files.exists(Paths.get(crashed)), "crashed generation not swept")
  }

  test("a tip of another format version with an unreachable input fails fast") {
    val stateDir = freshDir()
    val corpusTmp = freshDir()
    writeCorpus(corpusTmp, 0L)
    // a committed generation written by another state format, same input
    graft.pipeline.VersionedTable.reuseOrInstall(spark, stateDir, "dedupstate-v0", corpusTmp) {
      gen => spark.range(3).selectExpr("CAST(id AS INT) AS band", "id AS bh").write.parquet(s"$gen/bands")
    }
    deleteRec(Paths.get(corpusTmp, "documents.parquet"))
    intercept[IllegalArgumentException](DedupState.build(spark, corpusTmp, stateDir))
    intercept[IllegalStateException](DedupState.loadBands(spark, stateDir))
  }
}
