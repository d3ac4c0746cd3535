package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native kernel for `q_embed_project` (SURVEY §2.2-K): the k-component
  * random-sign projection of a float vector, all components in ONE pass
  * over the row.
  *
  * The portable formulation explodes `sequence(0, k-1)` and runs
  * `aggregate(zip_with(embedding, sequence(0, n-1), (v, i) -> v * sign))`
  * once per component — k interpreted higher-order folds per row, each
  * materializing a zipped intermediate array and dispatching a lambda per
  * element with boxing. This kernel computes all k signed sums in a tight
  * compiled loop (k·n fused multiply-adds, no intermediate arrays, no
  * lambda dispatch) and returns them as one `array<double>` the caller
  * `posexplode`s — so the Generate duplicates 8 doubles downstream, never
  * the 64-float embedding.
  *
  * Semantics are BIT-IDENTICAL to the portable fold: component j is the
  * sequential index-order DOUBLE accumulation of
  * `v[i] * (((i*31 + j*17) % 2)*2 - 1)`. Null/empty inputs mirror the
  * portable pipeline's row shape: the explode there runs over the
  * CONSTANT `sequence(0, k-1)`, so a null embedding (or one containing a
  * null element, or the empty array whose `sequence(0, -1)` zip pads with
  * null) still emits k rows with a null projection — this kernel returns
  * a non-null array of k null entries for those inputs, so `posexplode`
  * preserves exactly the same k rows. OptimizedRewriteSpec pins row-for-row
  * equality against the portable form.
  */
object ProjectKernel {

  /** Static entry shared by interpreted eval and codegen. `arr` may be
    * null (the expression is NOT null-propagating — see scaladoc).
    */
  def project(arr: ArrayData, k: Int): ArrayData = {
    if (arr == null) return new GenericArrayData(new Array[Any](k))
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return new GenericArrayData(new Array[Any](k))
      i += 1
    }
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var acc = 0.0
      i = 0
      while (i < n) {
        acc += arr.getFloat(i).toDouble *
          (((i * 31 + j * 17) % 2) * 2 - 1).toDouble
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** k signed-sum projection components of a float vector. */
  case class FloatVecProject(child: Expression, k: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k >= 1, got k=$k")
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> argument, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def prettyName: String = "graft_vec_project"

    // never null: null/empty/null-element inputs yield an array of k null
    // entries so the caller's posexplode keeps the portable row shape
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      project(if (v == null) null else v.asInstanceOf[ArrayData], k)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val childGen = child.genCode(ctx)
      val childVal =
        if (child.nullable) s"(${childGen.isNull} ? null : ${childGen.value})"
        else childGen.value
      ev.copy(
        code = code"""
          ${childGen.code}
          ArrayData ${ev.value} =
            graft.functions.ProjectKernel.project($childVal, $k);""",
        isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
