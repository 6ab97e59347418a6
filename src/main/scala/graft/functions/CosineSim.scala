package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity over two `array<float>` embedding columns.
  *
  * A native codegen'd Catalyst expression (not a UDF) so the dot product runs
  * inside whole-stage codegen in the similarity-search hot path (SURVEY
  * §2.11 north star). Null elements are treated as 0; mismatched lengths or
  * zero norms yield NULL.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; AbstractDataType (and thus ExpectsInputTypes
  // signatures) is private[sql], so callers are responsible for casting
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0f else x.getFloat(i)
      val yv = if (y.isNullAt(i)) 0.0f else y.getFloat(i)
      dot += xv.toDouble * yv; na += xv.toDouble * xv; nb += yv.toDouble * yv
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else dot / den
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: the enclosing method may already declare any fixed
      // one (a projection's `apply(InternalRow i)` declares `i`)
      val Seq(n, dot, na, nb, i, xv, yv, den) =
        Seq("n", "dot", "na", "nb", "i", "xv", "yv", "den").map(ctx.freshName)
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    float $xv = $a.isNullAt($i) ? 0.0f : $a.getFloat($i);
         |    float $yv = $b.isNullAt($i) ? 0.0f : $b.getFloat($i);
         |    $dot += (double) $xv * $yv; $na += (double) $xv * $xv; $nb += (double) $yv * $yv;
         |  }
         |  double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($den == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $den; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
