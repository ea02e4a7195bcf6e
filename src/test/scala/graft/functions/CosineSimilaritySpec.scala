package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.VectorOps

class CosineSimilaritySpec extends SparkSpec {

  test("matches the composable HOF fold bit-for-bit; null/zero handling") {
    CosineSimilarity.register(spark)
    val df = spark.sql("""
      SELECT * FROM VALUES
        (array(1.0D, 2.0D, 3.0D), array(3.0D, 2.0D, 1.0D)),
        (array(1.0D, 0.0D), array(1.0D, 0.0D)),
        (array(0.0D, 0.0D), array(1.0D, 1.0D)),
        (CAST(null AS ARRAY<DOUBLE>), array(1.0D))
      AS t(a, b)""")
    val rows = df.select(
      expr("graft_cosine(a, b)").as("native"),
      expr(VectorOps.cosineSpark("a", "b")).as("hof")).collect()
    // identical folds → bit-identical doubles
    assert(java.lang.Double.compare(rows(0).getDouble(0), rows(0).getDouble(1)) === 0)
    assert(rows(1).getDouble(0) === 1.0)
    assert(rows(2).isNullAt(0), "zero-norm → null")
    assert(rows(3).isNullAt(0), "null array → null")
  }

  test("participates in whole-stage codegen (no fallback)") {
    CosineSimilarity.register(spark)
    val df = spark.range(100)
      .selectExpr("transform(sequence(0, 7), i -> cast(id + i as double)) AS v")
      .selectExpr("graft_cosine(v, v) AS c")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_cosine.*"), plan)
    assert(df.filter(abs(col("c") - 1.0) < 1e-12).count() === 100)
  }

  test("register is a no-op once graft_cosine is registered") {
    // a replacing registration stores a fresh ExpressionInfo (the builder
    // is a non-capturing lambda, one instance either way), so identity of
    // both shows whether the entry was replaced
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine")
    val registry = spark.sessionState.functionRegistry
    CosineSimilarity.register(spark)
    val (builder, info) = (registry.lookupFunctionBuilder(id), registry.lookupFunction(id))
    assert(builder.isDefined && info.isDefined)
    CosineSimilarity.register(spark)
    assert(registry.lookupFunctionBuilder(id).get eq builder.get,
      "a second register replaced the builder")
    assert(registry.lookupFunction(id).get eq info.get,
      "a second register replaced the entry")
  }
}
