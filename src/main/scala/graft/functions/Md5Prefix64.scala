package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper referenced from generated code. */
object Md5Prefix64Util {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) as a non-negative long — numerically equal
    * to `conv(substring(md5(x), 1, 15), 16, 10)` (15 hex chars = first 7.5
    * digest bytes), without materializing the 32-char hex string or parsing
    * it back.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** SQL function `md5prefix64(str)`: the engine's 60-bit content hash
  * (`Idioms.h60Spark`), bit-identical to the portable
  * `cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint)` and to the
  * DuckDB oracle's `h60Duck`, but one digest pass with no hex-string
  * round-trip (~3 allocations saved per call; the dedup/fingerprint
  * queries evaluate this per shingle, i.e. per word of input). Registered
  * by [[GraftFunctions]].
  */
case class Md5Prefix64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5prefix64 requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5prefix64"

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64Util.hash60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix64Util.hash60($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}
