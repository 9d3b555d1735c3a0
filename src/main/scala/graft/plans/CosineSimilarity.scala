package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity of two double arrays
  * in a single fused pass (dot + both norms in one loop), with
  * whole-stage codegen. Chosen over a Scala UDF (no
  * serialization/boxing, participates in codegen) and over composed
  * higher-order functions (`aggregate`/`zip_with` re-fold boxed
  * arrays three times per call).
  *
  * Arithmetic is the engine-portable form used by the DuckDB oracles:
  * sequential double accumulation, dot / (sqrt(na) * sqrt(nb)).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // mismatched dimensions or any NULL element → NULL (reading nulls
    // as 0.0 would fabricate similarities)
    if (x.numElements() != y.numElements() ||
        (0 until x.numElements()).exists(i => x.isNullAt(i) || y.isNullAt(i))) return null
    CosineSimilarity.cosine(x.toDoubleArray(), y.toDoubleArray())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; } else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  boolean $hasNull = false;
         |  for (int $i = 0; $i < $n && !$hasNull; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $hasNull = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  if ($hasNull || $denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** The scalar kernel, shared by interpreted evaluation and the
    * driver-side callers (`Vectors`); the string `doGenCode` emits is
    * the same loop. NULL when the lengths differ (silently truncating
    * to the common prefix would fabricate a similarity) or a norm is
    * zero. */
  def cosine(x: Array[Double], y: Array[Double]): java.lang.Double = {
    if (x.length != y.length) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < x.length) {
      val xi = x(i); val yi = y(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else dot / denom
  }

  val info = new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim")
}

/** SparkSessionExtensions entry point — enables
  * `spark.sql.extensions=graft.plans.GraftExtensions` so `cosine_sim`
  * is available in any session (SQL and DataFrame via call_function).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"), CosineSimilarity.info,
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"), SimHash64.info,
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hll_registers"), HllRegisters.info,
      (children: Seq[Expression]) => HllRegisters(children.head)))
    ext.injectFunction((
      FunctionIdentifier("cms_registers"), CmsRegisters.info,
      (children: Seq[Expression]) => CmsRegisters(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bitmap_registers"), BitmapRegisters.info,
      (children: Seq[Expression]) => BitmapRegisters(children.head)))
    ext.injectFunction((
      FunctionIdentifier("kmv_registers"), KmvRegisters.info,
      (children: Seq[Expression]) => KmvRegisters(children.head)))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"), NfcNormalize.info,
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("url_parts"), UrlParts.info,
      (children: Seq[Expression]) => UrlParts(children.head)))
    ext.injectFunction((
      FunctionIdentifier("registered_domain"), RegisteredDomain.info,
      (children: Seq[Expression]) => RegisteredDomain(children.head)))
    // the reference's SQL UDF surface (norm_body / to_bool_safe /
    // norm_date) as composed catalyst trees — see functions.SqlFunctions
    graft.functions.SqlFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SimplifyRedundantCase)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}
