package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The `q_date_normalize` shape gate skips the parse only for strings the
  * strict yyyy-MM-dd parser would reject, so on unsigned input gated and
  * ungated results must agree. Signed years are the documented exception:
  * Spark's `yyyy` parses them (and throws on a year beyond ±290307), the
  * reference rejects them, and the gate must return them unchanged.
  * Generators are driven directly with fixed seeds (as in KernelPropSpec):
  * random strings, date-shaped strings with out-of-range fields, and
  * near-misses of valid dates.
  */
class DateNormGateSpec extends SparkTestBase {
  import spark.implicits._

  private val validDate: Gen[String] = for {
    y <- Gen.choose(0, 9999); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
  } yield f"$y%04d-$m%02d-$d%02d"

  // out-of-range fields: month 0/13, day 0/29-32 (Feb 30, Apr 31, ...)
  private val fieldRange: Gen[String] = for {
    y <- Gen.choose(0, 9999); m <- Gen.choose(0, 13); d <- Gen.choose(0, 32)
  } yield f"$y%04d-$m%02d-$d%02d"

  private val oddChar: Gen[Char] = Gen.oneOf(
    '0', '9', '-', '/', ' ', '\t', '\n', '+', 'T', 'x',
    '٣', '३', '０', '９') // Arabic-Indic, Devanagari, fullwidth digits

  // one edit of a valid date: replace, insert or delete a char, pad, or
  // drop a leading zero (2024-1-01)
  private val nearMiss: Gen[String] = for {
    s <- validDate
    i <- Gen.choose(0, s.length - 1)
    c <- oddChar
    edit <- Gen.choose(0, 5)
  } yield edit match {
    case 0 => s.updated(i, c)
    case 1 => s.take(i) + c + s.drop(i)
    case 2 => s.take(i) + s.drop(i + 1)
    case 3 => s" $s"
    case 4 => s"$s "
    case _ => s.replaceFirst("-0", "-")
  }

  private val fixed: Seq[String] = Seq(
    "2024-13-01", "2024-02-30", "2023-02-29", "2024-02-29", " 2024-01-01",
    "2024-01-01 ", "2024-1-01", "2024-01-1", "٢٠٢٤-01-01",
    "２０２４-01-01", "12024-01-01", "+2024-01-01", "-2024-01-01", "-024-01-01",
    "--2024-01-01", "+12024-01-01", "-12024-01-01", "+02024-01-01", "-2024-02-30",
    "+1000000-01-01", "-1000000-01-01", "+292278994-08-17",
    "2024-01-01\n", "2024-01-01T00:00:00", "0000-01-01", "", "5-LOW", "1-URGENT")

  private val input: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr.map(_.take(14)),
    1 -> Gen.stringOf(Gen.oneOf(Gen.numChar, Gen.const('-'))).map(_.take(12)),
    2 -> fieldRange,
    4 -> nearMiss,
    1 -> validDate)

  // Expected values from the reference (Python strptime '%Y-%m-%d' and
  // DuckDB try_strptime agree on each of these).
  private val reference: Seq[(String, String)] = Seq(
    "2024-02-29" -> "2024-02-29T00:00:00", "2023-02-29" -> "2023-02-29",
    "2024-13-01" -> "2024-13-01", "1-URGENT" -> "1-URGENT",
    "-2024-01-01" -> "-2024-01-01", "+12024-01-01" -> "+12024-01-01",
    "+1000000-01-01" -> "+1000000-01-01", "-1000000-01-01" -> "-1000000-01-01")

  private def signed(s: String): Boolean = s.startsWith("-") || s.startsWith("+")

  test("property: the regex gate equals the ungated parse (random strings and near-misses)") {
    val generated = (0L until 3000L).map(i => input.apply(Gen.Parameters.default, Seed(i)).get)
    val strings = fixed ++ generated
    val c = col("s")
    val ungated = coalesce(
      date_format(try_to_timestamp(c, lit("yyyy-MM-dd")), "yyyy-MM-dd'T'HH:mm:ss"), c)
    // the gate runs on every input, overflow years included: it must not throw
    val gated = (strings.map(Option(_)) :+ None).toDF("s")
      .select(c, ExtractOps.dateNorm(c).as("gated")).collect()
      .map(r => Option(r.getString(0)) -> Option(r.getString(1))).toMap
    assert(gated(None).isEmpty)

    // unsigned input: gated == ungated Spark parse
    val rows = strings.filterNot(signed).toDF("s").select(c, ungated.as("ungated")).collect()
    val diffs = rows.filter(r => gated(Some(r.getString(0))) != Option(r.getString(1)))
    assert(diffs.isEmpty, diffs.take(10).map(r =>
      s"'${r.getString(0)}': gated=${gated(Some(r.getString(0)))} ungated=${r.getString(1)}")
      .mkString("\n"))
    // the gate must not be vacuous: some inputs parse
    assert(rows.exists(r => r.getString(1) != r.getString(0)))

    // signed years: returned unchanged, as the reference does
    val signedIn = strings.filter(signed)
    assert(signedIn.size > 20)
    signedIn.foreach(s => assert(gated(Some(s)) == Some(s), s))
    reference.foreach { case (in, out) => assert(gated(Some(in)) == Some(out), in) }
  }

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
