package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Static helper referenced from generated code. */
object WinnowPairsUtil {

  /** Schleimer/Wilkerson/Aiken winnowing over a hash sequence: for every
    * window start s in 0 .. max(n-w, 0) (i.e. all full w-windows, or ONE
    * window over the whole array when n < w — mirroring the portable
    * `sequence(1, greatest(n - w + 1, 1))` + end-capped `slice` form),
    * select `(pos, fp)` where `fp` is the window minimum and `pos` the
    * RIGHTMOST index attaining it (the SWA tie rule; identical to the
    * window form's `min(struct(h, -pos))`), and emit the DISTINCT selected
    * pairs in window order. Distinctness rides a structural invariant: as
    * the window slides right the selected position never moves left (the
    * previous selection is still in the window unless it fell out, and a
    * new equal-or-smaller entrant is selected under the rightmost rule),
    * so duplicate selections are always CONSECUTIVE runs and later pairs
    * have strictly larger `pos` — run-length compression makes the pairs
    * distinct. (This replaces a per-doc `array_distinct` over struct
    * elements, whose pairwise interpreted equality is O(windows²) per
    * document — measured 9× slower than the window form it was meant to
    * beat.) Null elements are skipped like `array_min`; windows with no
    * non-null values contribute ONE null element per array, at the first
    * such window — where `array_distinct` over the per-window fold keeps
    * its null — so the output is exactly that distinct set.
    *
    * O(n·w) tight loop with no per-window allocations beyond the emitted
    * rows; w is 4/8 here, far below the crossover where a monotonic-deque
    * O(n) pass would win.
    */
  def winnow(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val nw = if (n >= w) n - w + 1 else 1
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(nw, 2 * (n / w + 1)))
    var prev = -1 // position of the last emitted pair
    var nullSeen = false
    var s = 0
    while (s < nw) {
      val end = if (s + w < n) s + w else n
      var best = Long.MaxValue
      var bp = -1
      var i = s
      while (i < end) {
        if (!arr.isNullAt(i)) {
          val v = arr.getLong(i)
          if (bp < 0 || v <= best) { best = v; bp = i } // <=: rightmost tie
        }
        i += 1
      }
      // emit on selection change (bp == prev implies the identical pair)
      if (bp < 0) {
        if (!nullSeen) { out += null; nullSeen = true }
      } else if (bp != prev) {
        out += new GenericInternalRow(Array[Any](bp, best))
        prev = bp
      }
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native codegen'd windowed winnowing: all per-window (pos, min) selections
  * in one pass over the hash array. The portable forms both have a
  * structural cost this removes: the per-doc HOF fold
  * (`transform(sequence(...), s -> array_min(slice(...)))`) evaluates
  * interpreted per window with a slice allocation each, and the relational
  * form (posexplode + doc_id-partitioned `min(struct(h, -pos))` window)
  * pays a corpus-sized exchange + sort for what is a per-document
  * computation. Bit-identical to both (see `WinnowPairsSpec`); the DuckDB
  * oracle text keeps the portable formulation.
  */
case class WinnowPairs(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: LongType, _) if w > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: LongType, _) => TypeCheckResult.TypeCheckFailure(
      s"winnow_pairs requires window w >= 1, got $w")
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_pairs requires array<bigint>, got ${other.catalogString}")
  }

  // containsNull: a window with no non-null hashes yields a null element,
  // matching array_min-over-all-null in the portable form
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = true)
  override def prettyName: String = "winnow_pairs"

  override protected def nullSafeEval(input: Any): Any =
    WinnowPairsUtil.winnow(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowPairsUtil.winnow($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowPairs =
    copy(child = newChild)
}
