package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Native Catalyst expression: the per-position weighted mean
  * `Σⱼ wⱼ·vⱼ[i] / Σⱼ wⱼ` of a list of vectors, as `array<double>`.
  *
  * Built for query vectors assembled from a handful of example rows by
  * `collect_list`: it replaces the posexplode → groupBy(pos) →
  * collect_list(struct) → array_sort chain, whose shuffle and five
  * generated stages cost more than the arithmetic. Both sums run in
  * list order from 0.0 and the quotient is one division, so on a
  * single input partition the result equals per-position
  * `sum(v * w) / sum(w)` (and, with unit weights, `avg(v)`) bit for
  * bit.
  *
  * A vector or weight that is NULL is skipped, as `sum` skips it; a
  * NULL element is skipped at its position. The output is as long as
  * the longest vector; a position no vector reaches, or whose weights
  * sum to 0, is NULL (Spark's division by zero). An empty list gives
  * an empty array. `vectors` and `weights` pair up by index; a missing
  * weight counts as NULL.
  */
case class WeightedMeanVector(vectors: Expression, weights: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = vectors
  override def right: Expression = weights

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "graft_weighted_mean_vector"

  override protected def nullSafeEval(v: Any, w: Any): Any =
    WeightedMeanVector.compute(v.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = WeightedMeanVector.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (v, w) => s"${ev.value} = $helper.compute($v, $w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedMeanVector =
    copy(vectors = newLeft, weights = newRight)
}

object WeightedMeanVector {

  /** One pass over the vectors; also the codegen target. */
  def compute(vectors: ArrayData, weights: ArrayData): ArrayData = {
    val n = vectors.numElements()
    val nw = weights.numElements()
    var dim = 0
    var j = 0
    while (j < n) {
      if (!vectors.isNullAt(j)) dim = math.max(dim, vectors.getArray(j).numElements())
      j += 1
    }
    val sumWv = new Array[Double](dim)
    val sumW = new Array[Double](dim)
    j = 0
    while (j < n) {
      if (!vectors.isNullAt(j) && j < nw && !weights.isNullAt(j)) {
        val v = vectors.getArray(j)
        val w = weights.getDouble(j)
        var i = 0
        while (i < v.numElements()) {
          if (!v.isNullAt(i)) {
            sumWv(i) += v.getDouble(i) * w
            sumW(i) += w
          }
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      if (sumW(i) != 0.0) out(i) = sumWv(i) / sumW(i)
      i += 1
    }
    new GenericArrayData(out)
  }
}
