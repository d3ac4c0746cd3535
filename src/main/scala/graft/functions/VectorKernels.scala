package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the vector-similarity hot path
  * (SURVEY §4.3's "optional, perf-only" tier — custom `Expression` with
  * `doGenCode`, preferred over UDFs per the extension ladder).
  *
  * Why: the portable formulation (`aggregate(zip_with(a, b, …))`) builds
  * an intermediate array and evaluates a lambda per element through the
  * interpreted higher-order-function path. These kernels compile to a
  * tight scalar loop inside whole-stage codegen: no intermediate array,
  * no lambda dispatch, no boxing. At 100 TB × dim-768 embeddings the
  * difference is the scan being compute-bound vs codegen-bound.
  *
  * Semantics are BIT-IDENTICAL to the portable fold: left-to-right
  * accumulation over index order in DOUBLE, NULL when the arrays differ
  * in length or contain a null element (zip_with pads with null and the
  * fold propagates it) — so results (and the DuckDB oracle hash-match)
  * are unchanged.
  */
object VectorKernels {


  private def checkVecInputs(name: String, left: Expression,
      right: Expression): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  /** dot(a, b) over array<float> in sequential index order, DOUBLE acc. */
  case class FloatVecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs(prettyName, left, right)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_vec_dot"

    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""int $n = $a.numElements();
           |if ($n != $b.numElements()) { ${ev.isNull} = true; }
           |else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           |}""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Fused cosine(a, b) = dot/(sqrt(||a||²)·sqrt(||b||²)) in ONE pass over
    * both arrays (three sequential accumulators — same arithmetic as the
    * three-fold portable form, fused into a single loop).
    */
  case class FloatVecCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkVecInputs(prettyName, left, right)
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_vec_cosine"

    override def nullable: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = x.getFloat(i).toDouble
        val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
        s"""int $n = $a.numElements();
           |if ($n != $b.numElements()) { ${ev.isNull} = true; }
           |else {
           |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    double $xv = (double) $a.getFloat($i);
           |    double $yv = (double) $b.getFloat($i);
           |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |  }
           |  if (!${ev.isNull}) {
           |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |  }
           |}""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def arity2(name: String)(build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { c =>
    if (c.length != 2) throw new IllegalArgumentException(
      s"$name requires exactly 2 arguments, got ${c.length}")
    build(c(0), c(1))
  }

  /** graft_bottomk_md5(text, w, k) — w/k must be integer literals (they
    * parameterize the kernel, not per-row data).
    */
  private def bottomKBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    c match {
      case Seq(text, Literal(w: Int, IntegerType), Literal(k: Int, IntegerType)) =>
        ShingleKernel.BottomKShingleMd5(text, w, k)
      case _ => throw new IllegalArgumentException(
        "graft_bottomk_md5 requires (text, int literal w, int literal k)")
    }
  }

  /** graft_simhash32(toks, prefix) — prefix must be a string literal (it
    * seeds the hash, it is not per-row data).
    */
  private def simhashBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    c match {
      case Seq(toks, Literal(p: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
        SimHashKernel.SimHash32(toks, p.toString)
      case _ => throw new IllegalArgumentException(
        "graft_simhash32 requires (array<string> toks, string literal prefix)")
    }
  }

  /** graft_vec_project(vec, k) — k must be an integer literal (it
    * parameterizes the kernel, not per-row data).
    */
  private def vecProjectBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    c match {
      case Seq(vec, Literal(k: Int, IntegerType)) =>
        ProjectKernel.FloatVecProject(vec, k)
      case _ => throw new IllegalArgumentException(
        "graft_vec_project requires (array<float> vec, int literal k)")
    }
  }

  /** graft_count_in(toks, 'w1,w2,…') — the word set must be a string
    * literal (it parameterizes the kernel, not per-row data).
    */
  private def countInBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    c match {
      case Seq(toks, Literal(words: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
        CountInKernel.CountIn(toks, words.toString.split(',').toSeq)
      case _ => throw new IllegalArgumentException(
        "graft_count_in requires (array<string> toks, string literal words)")
    }
  }

  /** graft_text_quality(str, 'w1,w2,…') — the stop-word set must be a
    * string literal (it parameterizes the kernel, not per-row data).
    */
  private def textQualityBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    c match {
      case Seq(str, Literal(words: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
        TextQualityKernel.TextQuality(str, words.toString.split(',').toSeq)
      case _ => throw new IllegalArgumentException(
        "graft_text_quality requires (string str, string literal words)")
    }
  }

  /** graft_re_count(str, 'pattern') — the pattern must be a string
    * literal (it parameterizes the kernel, not per-row data).
    */
  private def reCountBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    c match {
      case Seq(str, Literal(p: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
        RegexCountKernel.RegexCount(str, p.toString)
      case _ => throw new IllegalArgumentException(
        "graft_re_count requires (string str, string literal pattern)")
    }
  }

  /** graft_pii_scrub(str, p1, tok1, p2, tok2) — patterns and tokens must
    * be string literals (they parameterize the kernel, not per-row data).
    */
  private def scrubBuilder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    c match {
      case Seq(str,
          Literal(p1: org.apache.spark.unsafe.types.UTF8String, _: StringType),
          Literal(t1: org.apache.spark.unsafe.types.UTF8String, _: StringType),
          Literal(p2: org.apache.spark.unsafe.types.UTF8String, _: StringType),
          Literal(t2: org.apache.spark.unsafe.types.UTF8String, _: StringType)) =>
        ScrubKernel.ScrubTwo(str, p1.toString, t1.toString, p2.toString, t2.toString)
      case _ => throw new IllegalArgumentException(
        "graft_pii_scrub requires (string str, string literal p1, tok1, p2, tok2)")
    }
  }

  /** graft_window_md5(text, w, stride) — w/stride must be integer
    * literals (they parameterize the kernel, not per-row data).
    */
  private def windowMd5Builder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    c match {
      case Seq(text, Literal(w: Int, IntegerType), Literal(st: Int, IntegerType)) =>
        WindowMd5Kernel.WindowMd5(text, w, st)
      case _ => throw new IllegalArgumentException(
        "graft_window_md5 requires (text, int literal w, int literal stride)")
    }
  }

  /** graft_chunk_md5(text, w, stride) — w/stride must be integer
    * literals (they parameterize the kernel, not per-row data).
    */
  private def chunkMd5Builder(c: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    c match {
      case Seq(text, Literal(w: Int, IntegerType), Literal(st: Int, IntegerType)) =>
        WindowMd5Kernel.ChunkMd5(text, w, st)
      case _ => throw new IllegalArgumentException(
        "graft_chunk_md5 requires (text, int literal w, int literal stride)")
    }
  }

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_vec_dot" -> arity2("graft_vec_dot")(FloatVecDot(_, _)),
    "graft_vec_cosine" -> arity2("graft_vec_cosine")(FloatVecCosine(_, _)),
    "graft_vec_project" -> (vecProjectBuilder _),
    "graft_vec_quant_stats" -> { c =>
      if (c.length != 1) throw new IllegalArgumentException(
        s"graft_vec_quant_stats requires exactly 1 argument, got ${c.length}")
      QuantKernel.VecQuantStats(c.head)
    },
    "graft_count_in" -> (countInBuilder _),
    "graft_re_count" -> (reCountBuilder _),
    "graft_pii_scrub" -> (scrubBuilder _),
    "graft_text_quality" -> (textQualityBuilder _),
    "graft_token_counts" -> { c =>
      if (c.length != 1) throw new IllegalArgumentException(
        s"graft_token_counts requires exactly 1 argument, got ${c.length}")
      TokenCountsKernel.TokenCounts(c.head)
    },
    "graft_norm_stats" -> { c =>
      if (c.length != 2) throw new IllegalArgumentException(
        s"graft_norm_stats requires exactly 2 arguments, got ${c.length}")
      NormalizeKernel.NormStats(c(0), c(1))
    },
    "graft_json_escape" -> { c =>
      if (c.length != 1) throw new IllegalArgumentException(
        s"graft_json_escape requires exactly 1 argument, got ${c.length}")
      JsonEscapeKernel.JsonEscape(c.head)
    },
    "graft_window_md5" -> (windowMd5Builder _),
    "graft_chunk_md5" -> (chunkMd5Builder _),
    "graft_bigram_top" -> { c =>
      if (c.length != 1) throw new IllegalArgumentException(
        s"graft_bigram_top requires exactly 1 argument, got ${c.length}")
      BigramKernel.BigramTop(c.head)
    },
    "graft_bottomk_md5" -> (bottomKBuilder _),
    "graft_simhash32" -> (simhashBuilder _),
    "graft_hash_bucket" -> { c =>
      if (c.length != 1) throw new IllegalArgumentException(
        s"graft_hash_bucket requires exactly 1 argument, got ${c.length}")
      HashBucketKernel.HashBucket(c.head)
    })

  private[functions] def builderFor(name: String): Seq[Expression] => Expression =
    fns.find(_._1 == name).get._2

  private[functions] def kernelNames: Seq[String] = fns.map(_._1)

  /** Idempotent per-session registration — lets any session (including the
    * driver-constructed Verify/Bench sessions) call the kernels by name.
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) {
        reg.registerFunction(id,
          new ExpressionInfo(classOf[VectorKernels.type].getName, name), builder)
      }
    }
  }

  /** Column-API surface: real Column in, real Column out — no string
    * round-trip, so quoted/nested names work unchanged.
    */
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      FloatVecDot(org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b)))

  def vecCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      FloatVecCosine(org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b)))
}

/** `SparkSessionExtensions` injector — the library-level wiring so user
  * sessions get the kernels at build time:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // driven by the same registry as ensureRegistered — a kernel added
    // there is automatically available to extension-wired sessions too
    for (name <- VectorKernels.kernelNames)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[VectorKernels.type].getName, name),
        VectorKernels.builderFor(name)))
    // merge-on-read correctness for the SQL catalog: tombstone-bearing
    // snapshots read through the DV anti-join, not the raw file scan
    ext.injectResolutionRule(_ => new graft.plans.ApplyDeletionVectors)
    // matching aggregates over a catalog table plan onto their FRESH
    // materialized view instead of the base scan (|groups| rows vs a
    // full fact scan); fires only under exact-match + freshness guards
    ext.injectOptimizerRule(session => new graft.plans.RewriteToMaterializedView(session))
    ext.injectOptimizerRule(session => new graft.plans.CountStarFromManifest(session))
  }
}
