package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Imperative registration of the engine's native functions, for sessions
  * built WITHOUT `spark.sql.extensions=graft.GraftExtensions` (a host that
  * calls `SparkEntry.queries` from its own bare session). Idempotent;
  * operator code that uses the functions calls this first.
  */
object GraftFunctions {

  /** Arity-checked builders, shared with [[graft.GraftExtensions]] — the
    * functions are injected session-wide for arbitrary SQL, so `vec_dot(a)`
    * must fail analysis with a clear message rather than throw an index
    * error, and `vec_dot(a, b, c)` must not silently ignore the third
    * argument.
    */
  private[graft] def vecDotBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"vec_dot requires exactly 2 arguments (two float/double arrays), got ${children.length}")
    VecDot(children.head, children(1))
  }

  private[graft] def md5Prefix64Builder(children: Seq[Expression]): Expression = {
    require(children.length == 1,
      s"md5prefix64 requires exactly 1 argument, got ${children.length}")
    Md5Prefix64(children.head)
  }

  /** The Int a constant builder argument folds to: any foldable integral
    * expression (`4`, `4L`, `CAST(4 AS SMALLINT)`) in Int range. Anything
    * else (a column, a string, NULL) fails analysis naming the function.
    */
  private def intArg(function: String, param: String, e: Expression): Int = {
    val v = e.dataType match {
      case ByteType | ShortType | IntegerType | LongType if e.foldable =>
        Option(e.eval()).map(_.asInstanceOf[Number].longValue)
      case _ => None
    }
    v.filter(_.isValidInt).map(_.toInt).getOrElse(throw new AnalysisException(
      "INVALID_PARAMETER_VALUE.INTEGER",
      Map("parameter" -> s"`$param`", "functionName" -> s"`$function`",
        "invalidValue" -> e.sql)))
  }

  private[graft] def minHashSigsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"minhash_sigs requires exactly 2 arguments (array<string>, numHashes literal), got ${children.length}")
    MinHashSigs(children.head, intArg("minhash_sigs", "numHashes", children(1)))
  }

  private[graft] def winnowPairsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"winnow_pairs requires exactly 2 arguments (array<bigint>, window literal), got ${children.length}")
    WinnowPairs(children.head, intArg("winnow_pairs", "window", children(1)))
  }

  private[graft] def simHashBitsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"simhash_bits requires exactly 2 arguments (array<bigint>, numBits literal), got ${children.length}")
    SimHashBits(children.head, intArg("simhash_bits", "numBits", children(1)))
  }

  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(new FunctionIdentifier("vec_dot")))
      reg.registerFunction(
        new FunctionIdentifier("vec_dot"),
        new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
        vecDotBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("md5prefix64")))
      reg.registerFunction(
        new FunctionIdentifier("md5prefix64"),
        new ExpressionInfo(classOf[Md5Prefix64].getName, "md5prefix64"),
        md5Prefix64Builder _)
    if (!reg.functionExists(new FunctionIdentifier("minhash_sigs")))
      reg.registerFunction(
        new FunctionIdentifier("minhash_sigs"),
        new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
        minHashSigsBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("simhash_bits")))
      reg.registerFunction(
        new FunctionIdentifier("simhash_bits"),
        new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
        simHashBitsBuilder _)
    if (!reg.functionExists(new FunctionIdentifier("winnow_pairs")))
      reg.registerFunction(
        new FunctionIdentifier("winnow_pairs"),
        new ExpressionInfo(classOf[WinnowPairs].getName, "winnow_pairs"),
        winnowPairsBuilder _)
  }
}
