package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class Md5Prefix64Spec extends SparkTestBase {

  private lazy val ext: SparkSession = {
    val base = spark // materialize the shared session first (shares the SparkContext)
    // getOrCreate() returns the existing default session and would silently
    // skip the extensions — force a fresh session instantiation.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // NOTE: spark.sql.extensions is a STATIC conf — silently ignored when the
    // SparkContext already exists (as in this shared-context test JVM), so
    // the builder API is used here; spark-submit deployments use the conf.
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("native hash60 equals the portable conv(substring(md5)) expression") {
    val inputs = Seq("", "a", "hello", "spark graft", "中文 😀", "x" * 10000)
    for (in <- inputs) {
      val portable = spark.sql(
        s"SELECT cast(conv(substring(md5('${in.replace("'", "''")}'), 1, 15), 16, 10) as bigint)"
      ).collect().head.getLong(0)
      val bytes = in.getBytes("UTF-8")
      assert(Md5Prefix64Util.hash60(bytes) == portable, s"mismatch for '${in.take(20)}'")
    }
  }

  test("extensions: md5prefix64 SQL function registered and codegen-evaluable") {
    val rows = ext.sql("SELECT md5prefix64(v) AS h FROM VALUES ('a'), ('b'), (NULL) t(v)")
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    val expA = ext.sql("SELECT cast(conv(substring(md5('a'),1,15),16,10) as bigint)").collect().head.getLong(0)
    assert(rows(0) == expA)
    assert(rows(2) == null) // null propagation
    // non-foldable input (range), so codegen evaluates both forms per row
    val pairs = ext.sql("SELECT md5prefix64(cast(id as string)), " +
      "cast(conv(substring(md5(cast(id as string)), 1, 15), 16, 10) as bigint) FROM range(1000)")
      .collect()
    assert(pairs.forall(r => r.getLong(0) == r.getLong(1)))
  }
}
