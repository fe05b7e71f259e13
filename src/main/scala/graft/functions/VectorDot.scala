package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** `vector_dot(a, b)` — native Catalyst dot product over
  * `ArrayType(DoubleType)` with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY §4 "custom Expression beats a Scala
  * UDF"): Spark's higher-order functions (`aggregate(zip_with(...))`) are
  * evaluated INTERPRETED, one lambda call per element with boxing — for a
  * 64-dim embedding that is 128 virtual calls per row. This expression
  * compiles to a tight primitive `double` loop inside the generated code,
  * no allocation, no boxing.
  *
  * Semantics match the interpreted form and DuckDB's `list_dot_product`
  * bit-for-bit: left-to-right sequential sum of pairwise products over the
  * common prefix length.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be ArrayType(DoubleType) — `AbstractDataType` is
  // private[sql], so the usual ExpectsInputTypes declaration can't be
  // written outside Spark; call sites (SimilarityQueries) cast explicitly
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** `vector_l2q(a, b)` — native Catalyst squared-L2 distance over
  * `ArrayType(LongType)` (quantized-integer vectors) with whole-stage
  * codegen.
  *
  * The quantized distance kernel behind sim_kmeans / sim_ivfpq argmin: the
  * `aggregate(zip_with(...))` form runs interpreted (two boxed lambda calls
  * per element — for an 8-subvector PQ pass over the corpus that is the
  * dominant cost); this compiles to a primitive `long` loop. Sum over the
  * common prefix length, exact (integer addition is order-free, so there is
  * no float-congruence caveat — the DuckDB twin is `list_sum` of the
  * squared diffs).
  */
case class VectorL2Q(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "vector_l2q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorL2Q =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  /** Resolution-time extraction of a foldable, non-null integer literal
    * argument. The registry builders run during analysis, so a column or
    * NULL argument must surface as an AnalysisException naming the
    * function — not as the bare NullPointerException/ClassCastException
    * that `exprs(1).eval().asInstanceOf[Number]` produced. */
  private def literalIntArg(fn: String, param: String,
      e: Expression): Long = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`",
          "paramType" -> "\"INT\""))
    e.eval() match {
      case n: Number => n.longValue()
      case null =>
        throw new org.apache.spark.sql.AnalysisException(
          "INVALID_PARAMETER_VALUE.NULL",
          Map("parameter" -> s"`$param`", "functionName" -> s"`$fn`"))
      case _ =>
        throw new org.apache.spark.sql.AnalysisException("NON_FOLDABLE_ARGUMENT",
          Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`",
            "paramType" -> "\"INT\""))
    }
  }

  private def fn[E <: Expression: ClassTag](name: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName, null, name), build)

  /** The engine's SQL functions, one entry each: what [[GraftExtensions]]
    * injects into a session at birth and what [[register]] installs on a
    * foreign one. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[VectorDot]("vector_dot")(e => VectorDot(e(0), e(1))),
    fn[VectorL2Q]("vector_l2q")(e => VectorL2Q(e(0), e(1))),
    fn[Md5Long]("md5_long60")(e => Md5Long(e.head)),
    fn[RollingHash]("rolling_hash")(e =>
      RollingHash(e(0), literalIntArg("rolling_hash", "window", e(1)).toInt)),
    fn[MinHashSigs]("minhash_sigs")(e => MinHashSigs(e.head)),
    fn[SimHashSig]("simhash_sig")(e => SimHashSig(e.head)),
    fn[HashHist]("hash_hist")(e => HashHist(e.head)),
    fn[Md5Grams]("md5_grams")(e => Md5Grams(e(0), literalIntArg("md5_grams", "n", e(1)).toInt)),
    fn[Winnow]("winnow")(e => Winnow(e(0), literalIntArg("winnow", "window", e(1)).toInt)),
    fn[VectorQuantize]("vector_quantize")(e =>
      VectorQuantize(e(0), literalIntArg("vector_quantize", "scale", e(1)))),
    fn[SortedIntersectCount]("sorted_intersect_count")(e => SortedIntersectCount(e(0), e(1))),
    // Spark ships BloomFilterMightContain for its own runtime filters but
    // does not expose it in SQL; the builder makes the bloom PREFILTER
    // pattern (tx_decontam_bloom) expressible without a UDF. Arg 0 must be
    // a foldable BINARY (a serialized util.sketch.BloomFilter), arg 1 the
    // LONG probe value — putLong/mightContainLong symmetry with
    // DataFrameStatFunctions.bloomFilter.
    fn[BloomFilterMightContain]("bloom_might_contain")(e => BloomFilterMightContain(e(0), e(1))))

  /** Install on a session built outside [[graft.core.GraftSession]] the
    * functions it lacks; a name the session already resolves is left as it
    * is, so this replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, info, build) <- table if !registry.functionExists(name))
      registry.registerFunction(name, info, build)
  }
}

/** Injects [[GraftFunctions.table]] into every session built with it:
  * [[graft.core.GraftSession]] adds it, and a foreign deployment passes
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(ext.injectFunction)
}
