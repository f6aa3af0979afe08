package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine(a, b) over two double arrays in a
  * single pass, with `doGenCode` so it fuses into whole-stage codegen
  * (SURVEY.md §7.4: the one custom Expression this engine justifies).
  *
  * Why not a Scala UDF or higher-order functions: a UDF is an opaque
  * boxed-row black box (blocks codegen and vectorization); the
  * `aggregate(zip_with(...))` formulation allocates an intermediate
  * array and evaluates interpreted lambdas per element. This compiles
  * to a tight primitive loop — the difference is ~10× on the
  * O(pairs × dims) similarity joins, which is exactly what matters when
  * the pair count is millions at scale.
  *
  * Numerics: dot/na/nb accumulate left-to-right in f64 — the same
  * association order as DuckDB's list_dot_product, so results stay
  * bit-compatible with the oracle (then round(,4) as everywhere).
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
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xi = $a.getDouble($i);
        |  double $yi = $b.getDouble($i);
        |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
