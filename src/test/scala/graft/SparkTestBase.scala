package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suite tests. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Local path of the committed tip of a `VersionedTable` root (an index
    * directory, an export outDir); fails the test when there is none.
    */
  def tip(root: String): String =
    graft.pipeline.VersionedTable.resolve(spark, root)
      .map(new org.apache.hadoop.fs.Path(_).toUri.getPath)
      .getOrElse(fail(s"no committed generation under $root"))

  /** `body`'s result and the number of Spark jobs it started. A listener
    * sees job starts in submission order, so the start of a sentinel job
    * submitted after `body` means every one of its jobs was seen.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobCount"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body")     => jobs.incrementAndGet(); ()
          case Some("sentinel") => drained.countDown()
          case _                => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, "body")
      val result = body
      sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never drained")
      (result, jobs.get())
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
