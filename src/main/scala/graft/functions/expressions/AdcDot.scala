package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native asymmetric-distance (ADC) table fold for product-quantized
  * serving: given an m-byte PQ code and a flattened `m × ksub` lookup
  * table, returns `Σ_s table[s·ksub + code[s]]` — the O(m) inner loop
  * of [[graft.operators.Quantization.pqTopKEncoded]].
  *
  * The composed form (m chained `element_at`s over per-subspace array
  * columns) built an expression tree too large for whole-stage codegen
  * at m=16 — the serve fell back to interpreted evaluation and measured
  * ~10× SLOWER than the full-precision dot it was supposed to beat
  * (BENCH_NOTES "Round 8: compressed-vector serving probe"). This
  * kernel is one generated call per pair.
  *
  * Fold order matches the composed chain bit-for-bit: 0.0 init,
  * ascending subspace (0.0 + t0 ≡ t0 exactly, so the oracle's
  * ((t0+t1)+…) parenthesisation is unchanged). Null/shape semantics:
  * a null element, a code outside [0, ksub), or a table of length
  * ≠ m·ksub yields NULL. */
case class AdcDot(left: Expression, right: Expression, ksub: Int)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc_dot"

  override protected def nullSafeEval(code: Any, tab: Any): Any =
    AdcDot.fold(code.asInstanceOf[ArrayData], tab.asInstanceOf[ArrayData],
      ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (code, tab) => {
      val r = ctx.freshName("adcRes")
      s"""
         |Object $r = graft.functions.expressions.AdcDot.fold($code, $tab, $ksub);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Double) $r).doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): AdcDot =
    copy(left = newLeft, right = newRight)
}

object AdcDot {
  def fold(code: ArrayData, tab: ArrayData, ksub: Int): java.lang.Double = {
    val m = code.numElements()
    if (tab.numElements() != m * ksub) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (code.isNullAt(s)) return null
      val c = code.getByte(s).toInt
      if (c < 0 || c >= ksub) return null
      if (tab.isNullAt(s * ksub + c)) return null
      acc = acc + tab.getDouble(s * ksub + c)
      s += 1
    }
    acc
  }
}
