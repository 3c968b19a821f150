package graft.pipeline

import graft.SparkTestBase
import graft.operators.{AnnIndex, Tables}
import graft.sources.DocSynth
import java.nio.file.Files
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Engine reads of `_`-prefixed directories (a generation's `_batches`
  * manifest, an index's `_centroids` and `_codebooks`) go through
  * `VersionedTable.readHidden`, so Spark's reader never logs its
  * "All paths were ignored" warning for them, up to Spark's
  * parallel-discovery threshold of files.
  */
class HiddenDirReadSpec extends SparkTestBase {

  /** `body`'s result and the messages the DataSource logger emitted during it. */
  private def dataSourceLog[A](body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-test-datasource", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { seen.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val a = body
      (a, seen.toArray(Array.empty[String]).toSeq)
    } finally { logger.removeAppender(appender); appender.stop() }
  }

  private def ignoredPaths(msgs: Seq[String]) = msgs.filter(_.contains("All paths were ignored"))

  test("reading lineage and searching a PQ index log no 'All paths were ignored'") {
    val out = Files.createTempDirectory("graft-hidden-read").toString
    assert(Checkpoint.runResumable(DocSynth.docs(spark, sfDir), out, numGroups = 4) == 4)
    // the appender sees the warning when a hidden directory is named directly
    val (_, control) = dataSourceLog(spark.read.parquet(VersionedTable.manifestDir(tip(out))))
    assert(ignoredPaths(control).nonEmpty, s"appender saw no warning on a direct read: $control")

    val emb = Tables.embeddings(spark, sfDir)
    val index = Files.createTempDirectory("graft-hidden-read-pq").toString + "/index"
    AnnIndex.build(emb, index, nCells = 4, refineIters = 0,
      payload = AnnIndex.Pq(numSub = 4, codebookK = 8))
    val queryId = emb.select("vec_id").head().getLong(0)
    val ((lineageRows, hits), msgs) = dataSourceLog {
      (Checkpoint.readLineage(spark, out).count(),
        AnnIndex.search(spark, index, emb, queryId, nprobe = 4, k = 3).count())
    }
    assert(lineageRows >= 4 && hits == 3, s"lineage rows $lineageRows, hits $hits")
    assert(ignoredPaths(msgs).isEmpty, ignoredPaths(msgs).mkString("\n"))
  }

  test("a manifest above the parallel-discovery threshold is read as its directory: " +
      "naming its files would start a listing job") {
    import spark.implicits._
    val gen = Files.createTempDirectory("graft-hidden-wide").toString
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    (0 to threshold).foreach(i => VersionedTable.appendManifest(gen, Seq(i.toLong).toDF("batch")))
    val dir = VersionedTable.manifestDir(gen)
    val files = Compact.dataFiles(spark, dir).map(_._1.toString)
    assert(files.size == threshold + 1)
    val schema = StructType(Seq(StructField("batch", LongType)))

    val (_, namedJobs) = jobsDuring(spark.read.schema(schema).parquet(files: _*))
    val (_, dirJobs) = jobsDuring(spark.read.schema(schema).parquet(dir))
    val (read, readJobs) = jobsDuring(VersionedTable.readManifest(spark, gen, schema))
    assert(namedJobs >= 1 && dirJobs == 0 && readJobs == 0,
      s"jobs: named files $namedJobs, directory $dirJobs, readManifest $readJobs")
    assert(read.map(_.count()).contains(threshold + 1L))

    // one file fewer is read by its names: no listing job, and no warning
    val narrow = Files.createTempDirectory("graft-hidden-narrow").toString
    (1 to threshold).foreach(i => VersionedTable.appendManifest(narrow, Seq(i.toLong).toDF("batch")))
    val ((narrowRead, narrowJobs), msgs) =
      dataSourceLog(jobsDuring(VersionedTable.readManifest(spark, narrow, schema)))
    assert(narrowJobs == 0 && ignoredPaths(msgs).isEmpty, s"jobs $narrowJobs, log $msgs")
    assert(narrowRead.map(_.count()).contains(threshold.toLong))
  }
}
