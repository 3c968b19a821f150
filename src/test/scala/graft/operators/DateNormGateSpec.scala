package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Why T7 `normalize_date` gates on the string's shape before it parses
  * (`MetaNorm.normalizeDate`, which `q_date_normalize` runs) instead of
  * calling Spark's own date parser: Spark's `yyyy` parses signed years,
  * which the reference rejects, and throws on a year beyond ±290307.
  * `KernelOpsSpec` pins the op's answer for these strings.
  */
class DateNormGateSpec extends SparkTestBase {
  import spark.implicits._

  test("signed years are where the ungated Spark parse departs from the reference") {
    val c = col("s")
    val ungated = date_format(try_to_timestamp(c, lit("yyyy-MM-dd")), "yyyy-MM-dd'T'HH:mm:ss")
    assert(Seq("-2024-01-01").toDF("s").select(ungated).head().getString(0) ==
      "-2024-01-01T00:00:00")
    val e = intercept[Exception](Seq("+1000000-01-01").toDF("s").select(ungated).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }
}
