package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric int8 quantization (max-abs scale, codes in [-127, 127]) as
  * ONE codegen'd loop — the fused form of the staged HOF chain in
  * [[graft.operators.Similarity.int8QuantizeComposed]]:
  *
  *   maxabs = array_max(transform(filter(v, notNull), abs))
  *   qscale = v IS NULL ? NULL : coalesce(maxabs / 127, 0.0)
  *   qvec   = v IS NULL ? NULL
  *          : qscale = 0 ? transform(v, x -> x IS NULL ? NULL : 0)
  *          : transform(v, x -> x IS NULL ? NULL
  *              : int(greatest(-127, least(127, round(x / qscale, 0)))))
  *
  * — three interpreted HigherOrderFunction passes per vector. The fused
  * loop computes maxabs and the codes in two plain passes.
  *
  * Exact-parity notes (property-gated in `VectorFusionSpec`):
  *  - round(x, 0) replicates Spark's Round on doubles: NaN/Infinity pass
  *    through, else BigDecimal.valueOf (SHORTEST-DECIMAL representation)
  *    with HALF_UP (= half away from zero for both signs).
  *  - least/greatest treat NaN as LARGEST (Spark's double ordering), so
  *    a NaN quotient clamps to 127 — Java's Math.min would propagate
  *    NaN instead; spelled explicitly.
  *  - NULL vector → NULL struct (both fields null); empty / all-NULL
  *    vector → qscale 0.0; qscale 0 → all non-NULL elements code 0;
  *    NULL elements stay NULL and are excluded from maxabs.
  */
case class Int8QuantExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("qscale", DoubleType, nullable = true),
    StructField("qvec", ArrayType(IntegerType, containsNull = true),
      nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "int8_quantize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${dt.catalogString}")
  }

  def compute(arr: ArrayData): Any = {
    if (arr == null) return null
    val n = arr.numElements()
    var maxabs = Double.NaN
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        // array_max semantics: NaN is the LARGEST double
        if (!any || a.isNaN || (!maxabs.isNaN && a > maxabs)) maxabs = a
        any = true
      }
      i += 1
    }
    val qscale = if (any) maxabs / 127.0 else 0.0
    val codes = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        codes(i) =
          if (qscale == 0.0) Integer.valueOf(0)
          else {
            val q = arr.getDouble(i) / qscale
            val r =
              if (q.isNaN || q.isInfinite) q
              else java.math.BigDecimal.valueOf(q)
                .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
            // least(127, r) with NaN-as-largest, then greatest(-127, .)
            val lo = if (r.isNaN) 127.0 else math.min(127.0, r)
            Integer.valueOf(math.max(-127.0, lo).toInt)
          }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      java.lang.Double.valueOf(qscale), new GenericArrayData(codes)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("int8q", this,
      classOf[Int8QuantExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.compute($c);
      if (r == null) { ${ev.isNull} = true; } else {
        ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) r;
      }""")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Int8QuantExpr = copy(child = newChild)
}
