package graft.pipeline

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** The five spark-submit mains share one launcher (`MainArgs`): one
  * argument-count rule, one session, stopped only by the launcher that
  * built it.
  */
class MainsSpec extends SparkTestBase {

  private val mains: Seq[(String, Array[String] => Unit)] = Seq(
    "ExtractMain" -> ExtractMain.main, "CurateMain" -> CurateMain.main,
    "DedupStateMain" -> DedupStateMain.main, "ExportMain" -> ExportMain.main,
    "CompactMain" -> CompactMain.main)

  private def sessionUsable(): Boolean =
    !spark.sparkContext.isStopped && spark.range(3).count() == 3

  test("each main, run in-process, leaves the caller's session running") {
    val base = Files.createTempDirectory("graft-mains")
    val in = Files.createDirectory(base.resolve("sf"))
    val src = Files.list(Paths.get(sfDir))
    try src.iterator().asScala.foreach(f => Files.copy(f, in.resolve(f.getFileName)))
    finally src.close()
    def out(name: String): String = base.resolve(name).toString
    val runs = Seq(
      Array(in.toString, out("spans"), "semantic"), Array(in.toString, out("curated")),
      Array(in.toString, out("state")), Array(in.toString, out("export"), "2"), Array(out("spans")))
    for (((name, main), args) <- mains.zip(runs)) {
      main(args)
      assert(sessionUsable(), s"$name stopped the caller's session")
      assert(SparkSession.getDefaultSession.contains(spark), s"$name replaced the default session")
    }
    assert(Checkpoint.readSpans(spark, out("spans")).select("doc_id").distinct().count() == 500)
  }

  test("one argument too many fails with the main's usage line and starts no Spark job") {
    val tooMany = Map(
      "ExtractMain" -> Array("in", "out", "semantic", "4"), "CurateMain" -> Array("in", "out", "stage", "x"),
      "DedupStateMain" -> Array("in", "state", "x"), "ExportMain" -> Array("in", "out", "2", "x"),
      "CompactMain" -> Array("root", "64", "x"))
    for ((name, main) <- mains) {
      val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](main(tooMany(name))))
      assert(e.getMessage.contains(s"usage: $name "), e.getMessage)
      assert(jobs == 0, s"$name started $jobs jobs")
    }
    assert(sessionUsable())
  }

  test("a session the launcher builds keeps Spark's adaptive-execution defaults") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled")
    // the keys are on by Spark's own defaults, not by any setting of this JVM
    keys.foreach(k => assert(new SQLConf().getConfString(k) == "true", k))
    val caller = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a new session over the running context; stopping it would stop the
    // context the other suites share
    val built = try MainArgs.session("graft-launcher-test") finally {
      SparkSession.setDefaultSession(caller)
      SparkSession.setActiveSession(caller)
    }
    assert(built ne caller)
    keys.foreach(k => assert(built.conf.get(k) == "true", k))
  }

  test("under pipeline/, only MainArgs builds or stops a session") {
    val root = Paths.get("src/main/scala/graft/pipeline")
    assert(Files.isDirectory(root), s"expected the sources at ${root.toAbsolutePath}")
    val listing = Files.list(root)
    val files = try listing.iterator().asScala.toSeq finally listing.close()
    def filesWith(token: String): Set[String] =
      files.filter(f => Files.readString(f).contains(token)).map(_.getFileName.toString).toSet
    assert(filesWith("SparkSession.builder()") == Set("MainArgs.scala"))
    assert(filesWith(".stop()") == Set("MainArgs.scala"))
  }
}
