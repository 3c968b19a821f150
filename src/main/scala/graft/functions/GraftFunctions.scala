package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The engine's native functions (`md5prefix64`, `vec_dot`, `minhash_sigs`,
  * `simhash_bits`, `winnow_pairs`) as ONE registration table. Operator code
  * calls them by name, so every session that runs it must have them:
  * [[graft.GraftExtensions]] injects [[registrations]] into sessions built
  * with it, and [[ensure]] registers the same entries on a bare session (a
  * host that calls `SparkEntry.queries` or a public helper from its own
  * session). Idempotent; `SparkEntry.queries` and the public helpers that
  * emit a native function call it first.
  */
object GraftFunctions {

  /** Arity-checked builders — the functions are registered session-wide
    * for arbitrary SQL, so `vec_dot(a)` must fail analysis with a clear
    * message rather than throw an index error, and `vec_dot(a, b, c)` must
    * not silently ignore the third argument.
    */
  private def vecDotBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"vec_dot requires exactly 2 arguments (two float/double arrays), got ${children.length}")
    VecDot(children.head, children(1))
  }

  private def md5Prefix64Builder(children: Seq[Expression]): Expression = {
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

  private def minHashSigsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"minhash_sigs requires exactly 2 arguments (array<string>, numHashes literal), got ${children.length}")
    MinHashSigs(children.head, intArg("minhash_sigs", "numHashes", children(1)))
  }

  private def winnowPairsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"winnow_pairs requires exactly 2 arguments (array<bigint>, window literal), got ${children.length}")
    WinnowPairs(children.head, intArg("winnow_pairs", "window", children(1)))
  }

  private def simHashBitsBuilder(children: Seq[Expression]): Expression = {
    require(children.length == 2,
      s"simhash_bits requires exactly 2 arguments (array<bigint>, numBits literal), got ${children.length}")
    SimHashBits(children.head, intArg("simhash_bits", "numBits", children(1)))
  }

  private def entry(name: String, cls: Class[_], builder: FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  private[graft] val registrations: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    entry("md5prefix64", classOf[Md5Prefix64], md5Prefix64Builder),
    entry("vec_dot", classOf[VecDot], vecDotBuilder),
    entry("minhash_sigs", classOf[MinHashSigs], minHashSigsBuilder),
    entry("simhash_bits", classOf[SimHashBits], simHashBitsBuilder),
    entry("winnow_pairs", classOf[WinnowPairs], winnowPairsBuilder))

  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, builder) <- registrations if !reg.functionExists(id))
      reg.registerFunction(id, info, builder)
  }
}
