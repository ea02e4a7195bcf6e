package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst predicate: membership probe of a BROADCAST Bloom
  * filter on a long hash column, with whole-stage-codegen support.
  *
  * Replaces the round-13 `udf((h: Long) => bfB.value.mightContainLong(h))`
  * in the triangle closing-join pre-filter (guide §3.2 / §4 "prefer
  * built-ins with codegen"): a ScalaUDF in a join condition boxes every
  * probe value and calls through the reflective UDF bridge on the
  * hottest stream of the query (the Σ deg² wedge mass — 49.3M rows at
  * sf0.1). This expression compiles to one virtual call on a cached
  * deserialized filter per row — same semantics, no boxing, and the
  * enclosing WholeStageCodegen span stays intact.
  *
  * The filter rides a broadcast handle captured in the expression tree
  * (expressions are task-serialized; the handle is a few bytes and the
  * filter bits move via broadcast, not in every task binary — embedding
  * the serialized filter as a Literal would ship it with each stage's
  * task closure and bloat plan dumps at the 10⁸-edge gate's ~115 MB).
  * `Broadcast.value` caches per executor; codegen additionally pins the
  * dereferenced filter in a mutable slot at operator init, so the
  * per-row work is exactly `bf.mightContainLong(h)`.
  *
  * Null semantics match the UDF it replaces (primitive-arg ScalaUDF):
  * null hash → null. Deterministic: the bitset is an order-independent
  * OR-merge and probes are pure reads.
  */
case class BloomMightContain(
    bfB: Broadcast[BloomFilter],
    child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_might_contain"

  override def nullSafeEval(h: Any): Any =
    bfB.value.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = classOf[BloomFilter].getName
    val bcClass = classOf[Broadcast[_]].getName
    val bfRef = ctx.addReferenceObj("graftBloomBc", bfB, bcClass)
    val bf = ctx.addMutableState(bfClass, "graftBloom",
      v => s"$v = ($bfClass) $bfRef.value();")
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $bf.mightContainLong($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  /** Column probing `bfB` membership of `hash` (a LONG column), and
    * the release that drops its temp function. The expression is routed
    * through a uniquely-named session temp function (the registry is how
    * graft expressions reach the Column API — graft_cosine discipline;
    * the unique name keeps concurrent query builds from rebinding each
    * other's filter). Call the release after the last action on a plan
    * built from the column; without it the registry keeps one entry per
    * call.
    */
  def column(spark: SparkSession, bfB: Broadcast[BloomFilter], hash: Column)
      : (Column, () => Unit) = {
    val name = s"graft_might_contain_${ctr.incrementAndGet()}"
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      name, exprs => BloomMightContain(bfB, exprs.head), "built-in")
    (call_function(name, hash),
      () => { registry.dropFunction(FunctionIdentifier(name)); () })
  }
}
