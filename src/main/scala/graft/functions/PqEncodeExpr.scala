package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization ENCODE for one vector against a packed codebook —
  * the per-row argmin stage of the PQ path (reference behavior: vector
  * index compression for similarity search).
  *
  * Semantically identical to the composed form it replaces in
  * [[graft.operators.Similarity.pqEncode]]:
  * `transform(0..m-1, j -> array_min(transform(entries_j, c ->
  *   struct(round(c.c2 - 2·dot(sub_j, c.sv), roundDp), c.code_id)))
  *   .code_id)`
  * with every contract preserved:
  *  - sub_j = the j-th ds-wide slice of the vector; a short vector's
  *    missing dims simply don't contribute (DotProduct min-length rule);
  *  - distances round HALF_UP at `roundDp` (Spark Round on doubles)
  *    BEFORE the argmin, ties to the smallest code_id — the q93 oracle
  *    replays exactly this;
  *  - double ordering is SQL ordering (NaN greatest, -0.0 < 0.0);
  *  - a NULL vector yields every per-code distance NULL, and the struct
  *    min with NULLS FIRST ordering falls to the smallest code_id per
  *    subspace (NOT a null result) — replicated verbatim;
  *  - a NULL codebook (impossible from the broadcast, but contractual)
  *    yields NULL.
  *
  * Why not the composition: the nested transform/array_min lambdas run
  * interpreted per element — m·codes·ds multiply-adds PLUS a struct
  * allocation per (row, sub, code) through the expression interpreter;
  * measured 5.8 s at sf1 vs 0.9 s for the identical math in DuckDB. This
  * expression is three compiled loops per row and no allocation beyond
  * the output array.
  *
  * Packed codebook layout (built once, broadcast): array over sub_id
  * (outer-sorted) of struct(sub_id, codes: array of struct(code_id, sv:
  * array<double>, c2)) — field POSITIONS are the contract here (0,1,2),
  * matching Similarity.pqEncode's `packed` construction.
  */
case class PqEncodeExpr(vec: Expression, codebook: Expression,
    m: Int, roundDp: Int) extends BinaryExpression {

  require(m >= 1, s"pq_encode: m must be >= 1, got $m")

  override def left: Expression = vec
  override def right: Expression = codebook
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!vOk) return TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> vector, got " +
        vec.dataType.catalogString)
    codebook.dataType match {
      case ArrayType(StructType(fields), _) if fields.length >= 2 =>
        TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires the packed codebook struct array, got " +
          dt.catalogString)
    }
  }

  private def roundHalfUp(x: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(roundDp, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** SQL double ordering: NaN greatest, -0.0 < 0.0 (java.lang.Double). */
  private def less(a: Double, b: Double): Boolean =
    java.lang.Double.compare(a, b) < 0

  /** Parsed codebook: per sub, arrays of (code_id, sv with null mask, c2).
    * The broadcast hands every row in a partition the SAME codebook, so
    * one memoized parse amortizes the nested getStruct/getArray wrapper
    * allocations across the partition (re-parsing per row was ~2/3 of
    * encode time at sf1). The memo is keyed on the codebook's CONTENT,
    * not on the buffer it sits in: a reused row buffer (a cached frame's
    * scan) holds a different codebook at the same address on every row.
    */
  private final class Parsed(cb: ArrayData) {
    val subs: Array[Array[(Long, Array[Double], Array[Boolean], Double)]] =
      Array.tabulate(m) { j =>
        val codes = cb.getStruct(j, 2).getArray(1)
        Array.tabulate(codes.numElements()) { c =>
          val entry = codes.getStruct(c, 3)
          val svData = entry.getArray(1)
          val n = svData.numElements()
          val sv = new Array[Double](n)
          val svNull = new Array[Boolean](n)
          var d = 0
          while (d < n) {
            if (svData.isNullAt(d)) svNull(d) = true
            else sv(d) = svData.getDouble(d)
            d += 1
          }
          (entry.getLong(0), sv, svNull, entry.getDouble(2))
        }
      }
    val ds: Int = subs(0)(0)._2.length
  }

  // ThreadLocal: the expression instance is shared by every task thread
  // of the operator. The key is a private copy of the parsed codebook, so
  // a hit costs one byte-range compare (UnsafeArrayData.equals) and no
  // allocation, and a caller overwriting its buffer cannot alias it.
  @transient private lazy val memo = new ThreadLocal[(ArrayData, Parsed)]

  private def parsed(cb: ArrayData): Parsed = {
    val m0 = memo.get()
    if (m0 != null && m0._1 == cb) m0._2
    else { val p = new Parsed(cb); memo.set((cb.copy(), p)); p }
  }

  def compute(v: ArrayData, cb: ArrayData): ArrayData = {
    val out = new Array[Long](m)
    val nV = if (v == null) 0 else v.numElements()
    val p = parsed(cb)
    val ds = p.ds
    var j = 0
    while (j < m) {
      val codes = p.subs(j)
      val nCodes = codes.length
      var bestId = Long.MaxValue
      var bestD = 0.0
      var bestNull = false
      var first = true
      var c = 0
      while (c < nCodes) {
        val (codeId, sv, svNull, c2) = codes(c)
        var dist = 0.0
        var distNull = false
        if (v == null) {
          distNull = true
        } else {
          // dot over the overlap of [j*ds, j*ds+ds) with the vector
          val start = j * ds
          val end = math.min(start + ds, nV)
          val nSv = sv.length
          var acc = 0.0
          var d = start
          while (d < end && (d - start) < nSv) {
            if (!v.isNullAt(d) && !svNull(d - start)) {
              acc += v.getDouble(d) * sv(d - start)
            }
            d += 1
          }
          dist = roundHalfUp(c2 - 2.0 * acc)
        }
        // struct(d, code_id) min with NULLS FIRST on d, then smallest id
        val better =
          if (first) true
          else if (distNull && !bestNull) true
          else if (!distNull && bestNull) false
          else if (distNull && bestNull) codeId < bestId
          else if (less(dist, bestD)) true
          else if (less(bestD, dist)) false
          else codeId < bestId
        if (better) {
          bestId = codeId; bestD = dist; bestNull = distNull; first = false
        }
        c += 1
      }
      out(j) = bestId
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val cb = codebook.eval(input)
    if (cb == null) return null
    val v = vec.eval(input)
    compute(v.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
    val vCode = vec.genCode(ctx)
    val cbCode = codebook.genCode(ctx)
    val ref = ctx.addReferenceObj("pqEncode", this,
      classOf[PqEncodeExpr].getName)
    val isNull = ctx.freshName("pqIsNull")
    val value = ctx.freshName("pqValue")
    ev.copy(
      code = code"""
        ${vCode.code}
        ${cbCode.code}
        boolean $isNull = ${cbCode.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData $value = null;
        if (!$isNull) {
          $value = $ref.compute(
            ${vCode.isNull} ? null : ${vCode.value}, ${cbCode.value});
        }
      """,
      isNull = JavaCode.isNullVariable(isNull),
      value = JavaCode.variable(value, dataType))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncodeExpr =
    copy(vec = newLeft, codebook = newRight)
}
