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
