package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest centroid by squared L2 distance: `(vector, centroid-matrix) →
  * struct(d: double, j: bigint)` — the distance to, and index of, the
  * closest row of the matrix, strict-less comparison so exact ties keep
  * the SMALLEST index.
  *
  * Why a native expression: k-means evaluates k·dim subtract-square-adds
  * per row, and the higher-order-function formulation (one
  * `aggregate(zip_with(…))` per centroid against a literal array) is
  * interpreted per element AND rebuilds a ~500-node expression tree per
  * iteration — measured ~2 s of driver analysis/codegen per round at
  * ANY data size ([[graft.operators.Similarity.kmeans]]). This fuses
  * the whole argmin into one generated loop nest.
  *
  * Semantics (bit-identical to the HOF formulation, so the DuckDB
  * recursive-CTE oracle keeps matching): elements widen to double;
  * each distance accumulates SEQUENTIALLY in index order
  * (`acc += (x−c)²`, the same order as `list_reduce(list_prepend(0.0,
  * …))`); centroid rows are compared in index order. NULL when either
  * input is NULL, the matrix is empty, any centroid's length differs
  * from the vector's, or any element is NULL.
  *
  * The interpreted path is [[NearestCentroid.nearest]], a plain scalar
  * function that [[graft.operators.Similarity.kmeans]] also calls for
  * its assignment rounds, so the rounds and the final assignment share
  * one arithmetic; the generated loop below mirrors it line for line.
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("j", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  private def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val matOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (vecOk && matOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid requires (array<float|double>, array<array<double>>), " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NearestCentroid.nearest(a.asInstanceOf[ArrayData], vecIsFloat,
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // EVERY local freshName'd — see CosineSimilarity: shared generated
      // scope, bare names collide into silent interpreted fallback.
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val diff = ctx.freshName("diff")
      val bestD = ctx.freshName("bestD")
      val bestJ = ctx.freshName("bestJ")
      val bad = ctx.freshName("bad")
      val vGet = if (vecIsFloat) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      s"""
         |int $k = $b.numElements();
         |int $n = $a.numElements();
         |boolean $bad = ($k == 0);
         |double $bestD = Double.POSITIVE_INFINITY;
         |long $bestJ = -1L;
         |for (int $j = 0; !$bad && $j < $k; $j++) {
         |  if ($b.isNullAt($j)) { $bad = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $b.getArray($j);
         |  if ($c.numElements() != $n) { $bad = true; break; }
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $c.isNullAt($i)) { $bad = true; break; }
         |    double $x = $vGet;
         |    double $diff = $x - $c.getDouble($i);
         |    $d += $diff * $diff;
         |  }
         |  if ($bad) break;
         |  if ($d < $bestD) { $bestD = $d; $bestJ = (long) $j; }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { java.lang.Double.valueOf($bestD), java.lang.Long.valueOf($bestJ) });
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** `struct(d, j)` of the row of `mat` nearest to `vec`, or null under
    * the expression's NULL rules (empty matrix, NULL centroid row,
    * length mismatch, NULL element). Both inputs non-null; `vec` holds
    * floats when `vecIsFloat`, else doubles. */
  def nearest(vec: ArrayData, vecIsFloat: Boolean, mat: ArrayData): InternalRow = {
    val k = mat.numElements()
    if (k == 0) return null
    val n = vec.numElements()
    var bestD = Double.PositiveInfinity
    var bestJ = -1L
    var j = 0
    while (j < k) {
      if (mat.isNullAt(j)) return null
      val c = mat.getArray(j)
      if (c.numElements() != n) return null
      var d = 0.0
      var i = 0
      while (i < n) {
        if (vec.isNullAt(i) || c.isNullAt(i)) return null
        val xi = if (vecIsFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val diff = xi - c.getDouble(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; bestJ = j.toLong }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestJ))
  }
}
