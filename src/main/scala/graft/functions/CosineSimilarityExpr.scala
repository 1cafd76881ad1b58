package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine-similarity over two `array<float>` columns.
  *
  * Spark-first replacement for MariaDB's `VEC_DISTANCE_COSINE`
  * (`/root/reference/camp_vec_rcmn.py:44`): a `BinaryExpression` with
  * `doGenCode`, so it participates in whole-stage codegen — the per-row KNN
  * scan stays a single generated loop with no virtual calls or boxing.
  * Accumulation is sequential double precision (matches the DuckDB oracle
  * and the interpreted fallback bit-for-bit).
  *
  * Zero-norm inputs yield 0.0 (no similarity) rather than NaN, so a null
  * guard upstream isn't needed for padded/empty vectors.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.of(a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
      |int graft_n = java.lang.Math.min($a.numElements(), $b.numElements());
      |double graft_dot = 0.0, graft_na = 0.0, graft_nb = 0.0;
      |for (int graft_i = 0; graft_i < graft_n; graft_i++) {
      |  double graft_x = (double) $a.getFloat(graft_i);
      |  double graft_y = (double) $b.getFloat(graft_i);
      |  graft_dot += graft_x * graft_y;
      |  graft_na += graft_x * graft_x;
      |  graft_nb += graft_y * graft_y;
      |}
      |${ev.value} = (graft_na == 0.0 || graft_nb == 0.0)
      |  ? 0.0 : graft_dot / (java.lang.Math.sqrt(graft_na) * java.lang.Math.sqrt(graft_nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The one cosine loop: the interpreted path evaluates through it and
    * driver-side rankers ([[graft.operators.Ann.searchIvf]]'s centroid
    * probe) call it, so a driver value equals the plan's value bit for
    * bit; `doGenCode` spells out the same sequential double loop. */
  def of(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
