package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit SimHash of a token array as a
  * 16-hex-char signature, computed ROW-LOCALLY in one pass.
  *
  * Bit b (0..63) is the majority vote, across the tokens, of bit b of
  * md5(token) — bit b read as bit (b mod 4) of hex nibble (b div 4),
  * the exact convention of the 32-bit aggregate formulation in
  * `operators.Dedup.simhashSignatures` (reference analog: content
  * fingerprinting before merge in stage_csv_dims_to_pg.py's upsert
  * flow), extended to 64 bits. Ties (vote sum 0, incl. the empty
  * array) resolve to 0.
  *
  * Why an expression and not the 32-sum-aggregate operator shape: the
  * aggregate form explodes every token row and shuffles them all on
  * doc_id — at 100 TB that shuffle IS the cost of the signature pass.
  * Row-local computation is map-only (zero shuffle, pipelined inside
  * whole-stage codegen), and the signature then feeds the same
  * byte-band blocking join. NULL array → NULL; NULL tokens cast no
  * vote.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private val HexDigits = "0123456789abcdef".toCharArray

  /** One-pass vote accumulation; called from interpreted eval AND from
    * generated code (a static call keeps the codegen template trivial
    * while the loop itself stays JIT-friendly). */
  def compute(arr: ArrayData): UTF8String = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val d = md.digest(arr.getUTF8String(t).getBytes)
        var b = 0
        while (b < 64) {
          // hex nibble b/4 of the digest: even nibble index → high
          // half of byte b/8 (hex-string character order)
          val nib =
            if ((b / 4) % 2 == 0) (d(b / 8) >> 4) & 0xF else d(b / 8) & 0xF
          votes(b) += (if (((nib >> (b % 4)) & 1) == 1) 1 else -1)
          b += 1
        }
      }
      t += 1
    }
    val out = new Array[Char](16)
    var i = 0
    while (i < 16) {
      var v = 0
      var j = 0
      while (j < 4) {
        if (votes(4 * i + j) > 0) v |= 1 << j
        j += 1
      }
      out(i) = HexDigits(v)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  val info = new ExpressionInfo(classOf[SimHash64].getName, "simhash64")
}
