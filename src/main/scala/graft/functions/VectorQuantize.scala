package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** `vector_quantize(arr, scale)` — quantize a FLOAT/DOUBLE array to
  * `ARRAY<BIGINT>` of `round(x · scale)` in one native pass.
  *
  * Replaces the last corpus-wide interpreted lambda in the similarity
  * family: `transform(embedding, v -> cast(round(cast(v as double) *
  * scale, 0) as bigint))` evaluates a boxed lambda per element (64 calls
  * per row over the whole corpus in sim_kmeans / sim_ivfpq / sim_twostage
  * / sim_drift); this is one static call per row writing a primitive
  * long[].
  *
  * Rounding replicates Spark's `round(double, 0)` (BigDecimal HALF_UP =
  * half-AWAY-FROM-ZERO on the exact binary value) — NOT `Math.round`
  * (floor(x+0.5)), which disagrees on negative .5 ties. The DuckDB twin
  * stays `round(CAST(v AS DOUBLE) * scale, 0)`, unchanged.
  */
case class VectorQuantize(child: Expression, scale: Long) extends UnaryExpression {

  private lazy val fromFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"vector_quantize expects ARRAY<FLOAT|DOUBLE>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vector_quantize"

  protected override def nullSafeEval(input: Any): Any =
    VectorQuantize.compute(input.asInstanceOf[ArrayData], scale, fromFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorQuantize.compute($c, ${scale}L, $fromFloat)")

  override protected def withNewChildInternal(newChild: Expression): VectorQuantize =
    copy(child = newChild)
}

object VectorQuantize {
  /** Spark `round(x, 0)` semantics: half away from zero on the exact
    * binary double. NOT `floor(x + 0.5)`: the addition itself rounds, so
    * x = 0.49999999999999994 (the largest double below 0.5) gives
    * x + 0.5 == 1.0 and floor says 1 while HALF_UP on the exact value says
    * 0 (JDK-8010430). Instead compare the fractional part exactly:
    * `x - floor(x)` is an exact subtraction for |x| < 2^52 (Sterbenz for
    * x ≥ 1, trivially exact below), and every |x| ≥ 2^52 is already an
    * integer — so `frac >= 0.5` is decided on the true binary value,
    * which is also the decision BigDecimal HALF_UP makes (a shortest-repr
    * decimal equals k.5 exactly iff the double is exactly k.5). The same
    * rule is Spark's `cast(round(x, 0) as bigint)`, so the one-task vector
    * trainer (`graft.llm.LocalFit`) rounds its centroid means here too. */
  private[graft] def roundHalfAway(x: Double): Long =
    if (x >= 0) {
      val f = math.floor(x)
      (if (x - f >= 0.5) f + 1 else f).toLong
    } else {
      val c = math.ceil(x)
      (if (c - x >= 0.5) c - 1 else c).toLong
    }

  def compute(a: ArrayData, scale: Long, fromFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (fromFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = roundHalfAway(v * scale)
      i += 1
    }
    new GenericArrayData(out)
  }
}
