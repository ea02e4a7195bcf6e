package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two array<double>
  * columns, with whole-stage-codegen support.
  *
  * The composable alternative (zip_with + aggregate lambdas,
  * VectorOps.cosineSpark) allocates a zipped intermediate array and
  * evaluates two lambda closures per element; this expression compiles
  * to a single fused primitive loop — the right shape for a
  * billions-of-rows ANN scoring pass. Semantics: folds min(len(a),
  * len(b)) elements in order, null if either array is null or both
  * norms are 0; null elements inside an array are read as 0.
  *
  * Registered for SQL as `graft_cosine` via [[CosineSimilarity.register]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  // no ExpectsInputTypes: AbstractDataType is private[sql] in Spark 4.
  // Callers must pass array<double> (embDouble casts upstream).

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getDouble($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
        }
        double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
        if ($denom == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / $denom;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Register `graft_cosine(a, b)` in the session's function registry
    * so expr()/SQL can use it. A no-op when the name is already
    * registered, so per-build calls neither replace the builder nor log
    * Spark's "replaced a previously registered function" warning.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine")))
      registry.createOrReplaceTempFunction(
        "graft_cosine",
        exprs => CosineSimilarity(exprs(0), exprs(1)),
        "built-in")
  }

  /** Injection triple for SparkSessionExtensions.injectFunction (the
    * spark.sql.extensions activation path — see graft.plans.GraftExtensions).
    */
  def functionDescription: (
      org.apache.spark.sql.catalyst.FunctionIdentifier,
      org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      Seq[Expression] => Expression) = (
    org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"),
    new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
      classOf[CosineSimilarity].getCanonicalName, "graft_cosine"),
    exprs => CosineSimilarity(exprs(0), exprs(1)))
}
