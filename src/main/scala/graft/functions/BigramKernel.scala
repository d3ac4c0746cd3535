package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for `q_quality_repetition` (the Gopher-rules repetition
  * signal): the multiplicity of a token array's single most frequent word
  * bigram, computed per row.
  *
  * The portable formulation explodes every bigram
  * (`transform(sequence(1, size-1), i -> concat(tok[i], ' ', tok[i+1]))`)
  * and runs TWO hash aggregations over the exploded corpus — at 100 TB
  * that shuffles one (doc_id, bigram-string) row per corpus token, twice,
  * for a statistic that never crosses document boundaries. This kernel
  * counts bigrams in one per-row pass (token interning + a packed-pair
  * count map) so the whole query becomes a narrow map: zero Generate,
  * zero aggregation exchanges — only the final ORDER BY remains.
  *
  * Semantics: bigram identity equals the portable concat's — tokens are
  * whitespace-split (`[^ ]+`), so `a+' '+b` is injective on (a, b) and
  * pair identity == concat-string identity. OptimizedRewriteSpec pins the
  * kernel against the portable explode+aggregate pipeline row-for-row.
  */
object BigramKernel {

  /** Max multiplicity over the n-1 adjacent-pair bigrams of `toks`.
    * Returns 0 for arrays with fewer than 2 tokens (callers filter those
    * rows out before the kernel, matching the portable pipeline's
    * `size(toks) >= 2` gate). A null token nulls its bigrams exactly as
    * the portable `concat` does — and all null bigrams land in ONE group,
    * mirroring groupBy's null-key semantics (unreachable from the
    * whitespace tokenizer, pinned for equivalence anyway).
    */
  def topCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n < 2) return 0L
    // intern tokens to dense ids so pair identity is one long, no concat
    val ids = new java.util.HashMap[UTF8String, Integer](n * 2)
    val tid = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) tid(i) = -1
      else {
        val t = arr.getUTF8String(i)
        var id = ids.get(t)
        if (id == null) { id = Integer.valueOf(ids.size()); ids.put(t, id) }
        tid(i) = id.intValue()
      }
      i += 1
    }
    val counts = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    var max = 0
    i = 1
    while (i < n) {
      // any null side -> the single null-bigram group (portable concat
      // nulls the pair; groupBy buckets every null together)
      val key = java.lang.Long.valueOf(
        if (tid(i - 1) < 0 || tid(i) < 0) java.lang.Long.MIN_VALUE
        else (tid(i - 1).toLong << 32) | (tid(i).toLong & 0xffffffffL))
      val c0 = counts.get(key)
      val c = if (c0 == null) 1 else c0.intValue() + 1
      counts.put(key, Integer.valueOf(c))
      if (c > max) max = c
      i += 1
    }
    max.toLong
  }

  /** Most-frequent-bigram multiplicity of an array<string> token column. */
  case class BigramTop(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> argument, got ${t.catalogString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_bigram_top"
    override def nullable: Boolean = child.nullable

    override protected def nullSafeEval(a: Any): Any =
      topCount(a.asInstanceOf[ArrayData])

    // the loop lives in the static helper; codegen emits one call, so the
    // expression stays inside whole-stage codegen
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.BigramKernel.topCount($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
