package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** PQ asymmetric-distance (ADC) score as ONE codegen'd loop — the fused
  * form of the per-row HOF chain shared by pqSearch / ivfPqSearch /
  * ivfPqSearchBatch:
  *
  *   aggregate(zip_with(codes, lut, (c, larr) -> element_at(larr, c+1)),
  *             0.0, (acc, x) -> acc + x)
  *
  * — per corpus row this re-entered the interpreter m times for the
  * zip_with, m more for the element_at lambda and m for the running
  * sum. The fused loop does m array lookups and adds, in the identical
  * left-fold order (float addition order preserved bit-for-bit).
  *
  * Null contracts mirrored exactly (property-gated in `VectorFusionSpec`):
  * NULL codes or NULL lut → NULL; mismatched lengths → NULL (zip_with
  * pads with NULLs, and one NULL lookup nulls the running sum); a NULL
  * code, NULL sub-table or NULL table entry → NULL. An out-of-range
  * code throws, as ANSI element_at does (never reachable from pqEncode,
  * whose codes index the same codebook the LUT is built from) — negative
  * codes too, where element_at would count from the end.
  */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType | IntegerType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint|int>, array<array<double>>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val intCodes: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  def compute(codes: ArrayData, lut: ArrayData): Any = {
    if (codes == null || lut == null) return null
    val m = codes.numElements()
    // zip_with pads the shorter side with NULLs; one NULL lookup nulls
    // the whole running sum
    if (lut.numElements() != m) return null
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j) || lut.isNullAt(j)) return null
      // range-check the full Long: truncating first would alias a code
      // >= 2^31 onto a valid index
      val c = if (intCodes) codes.getInt(j).toLong else codes.getLong(j)
      val larr = lut.getArray(j)
      if (c < 0 || c >= larr.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"adc_score: code $c out of range [0, ${larr.numElements()})")
      if (larr.isNullAt(c.toInt)) return null
      acc += larr.getDouble(c.toInt)
      j += 1
    }
    acc
  }

  override def nullSafeEval(codes: Any, lut: Any): Any =
    compute(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adc", this,
      classOf[AdcScoreExpr].getName)
    nullSafeCodeGen(ctx, ev, (c, l) => s"""
      Object r = $ref.compute($c, $l);
      if (r == null) { ${ev.isNull} = true; } else {
        ${ev.value} = ((Double) r).doubleValue();
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AdcScoreExpr =
    copy(left = newLeft, right = newRight)
}
